"""Seeded input generator for the pipeline benchmark.

Writes the parquet tables the program reads (`events.parquet`,
`documents.parquet`) in the layout of the repo's test data, from a seed
and a size.  The same (kind, size, seed) always gives byte-identical
rows; every table gets an order-independent checksum, printed and
stored in `manifest.json` beside it, so two runs can prove they read
identical inputs.  Generated sets are cached under
`.bench_build/inputs/<kind>-<dimensions>-s<seed>-<generator hash>/` and
reused; generation never runs inside a timed region.
"""
import hashlib
import json
import shutil
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# (stations, history days, import days) and docs per size: `bench` is
# what the timed workloads run, `tiny` feeds the smoke tests.
EVENT_SIZES = {"bench": (40, 45, 3), "tiny": (30, 20, 3)}
DOC_SIZES = {"bench": 400, "tiny": 200}

START = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
EVENTS_PER_DAY = 2.2          # mean events per station-day, as in sf0.1
VIRTUAL_SHARE = 0.03          # stations without 'view' events (virtual T)

# Five stopword profiles of graft.text.TextAnalysis.Profiles plus a shared
# technical vocabulary (the repo's sf0.1 documents use the same words).
PROFILES = {
    "en": ["the", "a", "and", "of", "to"],
    "de": ["der", "die", "und", "das", "ist"],
    "es": ["el", "la", "los", "de", "que"],
    "fr": ["le", "la", "les", "et", "est"],
    "zh": ["de", "shi", "le", "wo", "ni"],
}
LANGS = list(PROFILES)
LANG_WEIGHTS = [0.5, 0.125, 0.125, 0.125, 0.125]
VOCAB = ("spark query vector part group join fast hash column big customer table "
         "agg row order key scan value stream sort merge batch data small slow line "
         "window filter").split() + [f"w{i}" for i in range(400)]
NEAR_DUP_SHARE = 0.10         # docs that are light edits of an earlier original
TEMPLATE_SHARE = 0.03         # docs in the one hot template cluster
EDIT_RATE = 0.04              # share of tokens replaced in a near-dup
VERSION = hashlib.sha256(Path(__file__).read_bytes()).hexdigest()[:8]


def _events(seed, stations, days, import_days):
    rng = np.random.default_rng([seed, 1])
    total_days = days + import_days
    counts = rng.poisson(EVENTS_PER_DAY, size=(stations, total_days)).ravel()
    cell = np.repeat(np.arange(stations * total_days), counts)
    st, day = cell // total_days, cell % total_days
    n = len(cell)
    offset = rng.integers(0, 86_400_000_000, size=n)
    ts = START + (day.astype(np.int64) * 86_400_000_000 + offset).astype("timedelta64[us]")
    typ = rng.integers(0, len(EVENT_TYPES), size=n)
    virtual = rng.random(stations) < VIRTUAL_SHARE
    typ = np.where(virtual[st] & (typ == 0), 1, typ)
    value = np.round(rng.exponential(50.0, size=n), 2)
    props = np.array([f'{{"k": {k}}}' for k in range(100)])[rng.integers(0, 100, size=n)]
    order = np.lexsort((st, offset, day))
    df = pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts[order],
        "user_id": st[order].astype(np.int64),
        "event_type": EVENT_TYPES[typ[order]],
        "value": value[order],
        "props": props[order],
    })
    return df, day[order]


def _documents(seed, n_docs):
    """Every seed gives the same shape of corpus: exact counts of
    near-duplicates, template docs and originals per language, and each
    near-duplicate edits an original, so every near-duplicate cluster is
    a star. The seed changes the words and the order, not the amount of
    dedup work."""
    rng = np.random.default_rng([seed, 2])
    vocab = np.array(VOCAB)
    template = list(rng.choice(vocab, size=70)) + PROFILES["en"] * 3
    rng.shuffle(template)
    n_near, n_tmpl = round(NEAR_DUP_SHARE * n_docs), round(TEMPLATE_SHARE * n_docs)
    n_orig = n_docs - n_near - n_tmpl
    per_lang = [round(w * n_orig) for w in LANG_WEIGHTS]
    per_lang[0] += n_orig - sum(per_lang)
    orig_langs = rng.permutation(np.repeat(LANGS, per_lang))
    # the first doc is an original, so every near-duplicate has one to edit
    kinds = ["orig"] + list(rng.permutation(["orig"] * (n_orig - 1) + ["near"] * n_near
                                            + ["tmpl"] * n_tmpl))
    docs, langs, originals = [], [], []
    for i, kind in enumerate(kinds):
        if kind == "near":
            j = originals[int(rng.integers(0, len(originals)))]
            toks, lang = docs[j].split(" "), langs[j]
            edits = rng.random(len(toks)) < EDIT_RATE
            toks = [str(rng.choice(vocab)) if e else t for t, e in zip(toks, edits)]
        elif kind == "tmpl":
            toks, lang = list(template), "en"
            for k in rng.integers(0, len(toks), size=2):
                toks[k] = str(rng.choice(vocab))
        else:
            lang = str(orig_langs[len(originals)])
            originals.append(i)
            n = int(rng.integers(12, 110))
            toks = list(rng.choice(vocab, size=n))
            stop = PROFILES[lang]
            for k in np.nonzero(rng.random(n) < 0.12)[0]:
                toks[k] = stop[int(rng.integers(0, len(stop)))]
            for k in np.nonzero(rng.random(n) < 0.03)[0]:
                toks[k] = toks[k] + str(rng.choice([".", ",", "!", "?"]))
        docs.append(" ".join(toks))
        langs.append(lang)
    return pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": docs,
        "lang": langs,
        "source": [f"src{k}" for k in rng.integers(0, 20, size=n_docs)],
        "n_chars": np.array([len(t) for t in docs], dtype=np.int64),
    })


def checksum(path):
    """Order-independent checksum of a parquet table: the sum of per-row
    hashes modulo 2**64, with the row count."""
    df = pq.read_table(path).to_pandas()
    h = pd.util.hash_pandas_object(df, index=False).to_numpy(dtype=np.uint64)
    return f"{len(df)}:{int(h.sum(dtype=np.uint64)):016x}"


def _write(df, path):
    table = pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(table, path, row_group_size=1 << 20)


def generate(out, kind, size, seed):
    """Write one input set into `out` (a fresh directory); return its
    manifest."""
    out.mkdir(parents=True)
    tables = {}
    if kind == "events":
        stations, days, import_days = EVENT_SIZES[size]
        df, day = _events(seed, stations, days, import_days)
        (out / "base").mkdir()
        (out / "updated").mkdir()
        _write(df[day < days], out / "base" / "events.parquet")
        _write(df, out / "updated" / "events.parquet")
        tables = {"base/events": "base/events.parquet",
                  "updated/events": "updated/events.parquet"}
        extra = {"stations": stations, "days": days, "import_days": import_days,
                 "import_lo": str(np.datetime64("2024-01-01") + np.timedelta64(days, "D")),
                 "import_hi": str(np.datetime64("2024-01-01")
                                  + np.timedelta64(days + import_days - 1, "D"))}
    elif kind == "documents":
        _write(_documents(seed, DOC_SIZES[size]), out / "documents.parquet")
        tables = {"documents": "documents.parquet"}
        extra = {"docs": DOC_SIZES[size]}
    else:
        raise ValueError(f"unknown input kind {kind!r}")
    manifest = {"kind": kind, "size": size, "seed": seed, **extra,
                "checksums": {t: checksum(out / p) for t, p in tables.items()}}
    (out / "manifest.json").write_text(json.dumps(manifest, indent=1, sort_keys=True))
    return manifest


def ensure(cache, kind, size, seed, keep=6):
    """Return (directory, manifest) of the cached input set, generating it
    on a miss; the key includes this file's hash, so a changed generator
    never reads a stale set.  At most `keep` sets stay cached; older ones are removed."""
    cache.mkdir(parents=True, exist_ok=True)
    dims = EVENT_SIZES[size] if kind == "events" else (DOC_SIZES[size],)
    d = cache / f"{kind}-{'x'.join(map(str, dims))}-s{seed}-{VERSION}"
    if (d / "manifest.json").is_file():
        d.touch()
        return d, json.loads((d / "manifest.json").read_text())
    tmp = cache / f".tmp-{d.name}"
    shutil.rmtree(tmp, ignore_errors=True)
    manifest = generate(tmp, kind, size, seed)
    tmp.rename(d)
    sets = sorted((p for p in cache.iterdir() if not p.name.startswith(".")),
                  key=lambda p: p.stat().st_mtime, reverse=True)
    for old in sets[keep:]:
        shutil.rmtree(old, ignore_errors=True)
    return d, manifest

