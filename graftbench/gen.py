"""Seeded input generators: cdc_stream's change files, and the change
batches and document corpus of the sync_cycles and training_build
workloads, which are not yet listed (NOTES.md, "Dropped").

Every generator draws only from ``numpy.random.default_rng(seed)`` and
writes one parquet file per table, in the schemas and encodings of the
shipped tables (``data/sf0.01``): events ``ts`` is parquet
TIMESTAMP(MICROS) with isAdjustedToUTC=false, so ``Tables.events``
takes the same branch it takes on real data.

The stated shares below are what ``tests/test_gen.py`` checks.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- sync_cycles -----------------------------------------------------------
SYNC_KEYS = 20_000           # user_id space of one batch
SYNC_ZIPF_S = 1.1            # Zipf-like exponent of the user_id draw
SYNC_TOP1PCT_SHARE = 0.68    # stated share of changes on the top 1% of keys
SYNC_NEW_KEY_SHARE = 0.10    # share of key ids missing from the base table
SYNC_SHARE_TOL = 0.03
EVENT_TYPES = np.array(["signup", "click", "view", "purchase", "error"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
TS_BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00
TS_STEP_US = 250_000                 # mean spacing of consecutive changes
TS_JITTER_US = 3_000_000             # +-3 s: ts is out of event_id order

# --- training_build --------------------------------------------------------
VOCAB = np.array([f"w{i}" for i in range(400)] +
                 ["the", "a", "data", "spark", "table", "merge", "stream"])
LANGS = np.array(["en", "zh", "es", "de", "fr"])
LANG_P = np.array([0.44, 0.15, 0.14, 0.14, 0.13])
DOC_EXACT_DUP_SHARE = 0.10   # verbatim copies of an earlier document
DOC_NEAR_DUP_SHARE = 0.10    # an earlier document with one token changed
DOC_LOW_QUALITY_SHARE = 0.10 # fails TextAnalysis.keepCol (too short)
DOC_SHARE_TOL = 0.02

# --- cdc_stream ------------------------------------------------------------
STREAM_KEYS = 5_000
OPS = np.array(["I", "U", "U", "U", "D"])


def _zipf_keys(rng, n, keys, s):
    """n draws from a Zipf(s) law truncated to ``keys`` ids; the rank
    order is a seeded permutation, so hot ids differ per seed."""
    w = 1.0 / np.arange(1, keys + 1) ** s
    ranks = rng.choice(keys, size=n, p=w / w.sum())
    return rng.permutation(keys)[ranks].astype(np.int64)


def _write(table, path):
    # one file per table, readable by Spark and by the DuckDB twins
    pq.write_table(table, path, coerce_timestamps="us",
                   use_deprecated_int96_timestamps=False)


def base_customers(seed, keys=SYNC_KEYS):
    """The base ``customer`` table the sync batches apply against:
    every key id in [0, keys) except a seeded SYNC_NEW_KEY_SHARE."""
    rng = np.random.default_rng([seed, 0])
    missing = rng.random(keys) < SYNC_NEW_KEY_SHARE
    ck = np.arange(keys, dtype=np.int64)[~missing]
    n = len(ck)
    return pa.table({
        "c_custkey": ck,
        "c_name": pa.array([f"Customer#{k:09d}" for k in ck]),
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": SEGMENTS[rng.integers(0, len(SEGMENTS), n)],
    })


def sync_batch(seed, batch, n, keys=SYNC_KEYS):
    """One change batch: ``n`` events on a Zipf-skewed user_id space,
    the shipped op mix (signup->I, click/view/purchase->U, error->D)
    and ``ts`` jittered out of event_id order."""
    rng = np.random.default_rng([seed, 1, batch])
    eid = np.arange(batch * n, (batch + 1) * n, dtype=np.int64)
    ts = (TS_BASE_US + eid * TS_STEP_US
          + rng.integers(-TS_JITTER_US, TS_JITTER_US + 1, n))
    k = rng.integers(0, 100, n)
    props = np.char.add(np.char.add('{"k": ', k.astype(str)), "}")
    return pa.table({
        "event_id": eid,
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": _zipf_keys(rng, n, keys, SYNC_ZIPF_S),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(rng.lognormal(3.5, 0.9, n), 2),
        "props": props,
    })


def write_sync(out, seed, batches, n):
    """Batch i goes to ``out/b<i>/{events,customer}.parquet`` (the
    ``Tables`` single-file-per-table layout); customer is shared."""
    os.makedirs(out, exist_ok=True)
    base = os.path.join(out, "customer.parquet")
    _write(base_customers(seed), base)
    dirs = []
    for b in range(batches):
        d = os.path.join(out, f"b{b}")
        os.makedirs(d, exist_ok=True)
        _write(sync_batch(seed, b, n), os.path.join(d, "events.parquet"))
        os.link(base, os.path.join(d, "customer.parquet"))
        dirs.append(d)
    return dirs


def corpus(seed, n):
    """``n`` documents in the shipped ``documents`` schema with the
    stated exact-duplicate, near-duplicate and low-quality shares."""
    rng = np.random.default_rng([seed, 2])
    kind = rng.choice(4, size=n, p=[
        1 - DOC_EXACT_DUP_SHARE - DOC_NEAR_DUP_SHARE - DOC_LOW_QUALITY_SHARE,
        DOC_EXACT_DUP_SHARE, DOC_NEAR_DUP_SHARE, DOC_LOW_QUALITY_SHARE])
    kind[0] = 0  # the first document has nothing earlier to copy
    texts = []
    originals = []  # indices of fresh, gate-passing documents
    for i in range(n):
        if kind[i] == 1:
            t = texts[originals[rng.integers(len(originals))]]
        elif kind[i] == 2:
            toks = texts[originals[rng.integers(len(originals))]].split(" ")
            toks[rng.integers(len(toks))] = VOCAB[rng.integers(len(VOCAB))]
            t = " ".join(toks)
        elif kind[i] == 3:
            t = " ".join(VOCAB[rng.integers(0, len(VOCAB), 4)])
        else:
            t = " ".join(VOCAB[rng.integers(0, len(VOCAB),
                                            rng.integers(30, 120))])
            originals.append(i)
        texts.append(t)
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(texts),
        "lang": LANGS[rng.choice(len(LANGS), size=n, p=LANG_P)],
        "source": np.char.add("src", (np.arange(n) % 20).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), kind


def write_corpus(out, seed, n):
    os.makedirs(out, exist_ok=True)
    table, _ = corpus(seed, n)
    _write(table, os.path.join(out, "documents.parquet"))
    return out


def change_file(seed, idx, n, keys=STREAM_KEYS):
    """One ``CdcStream.Change`` file: ``n`` changes, event ids unique
    across files, ``ems`` jittered so a later file can carry an older
    change (LWW must then keep the stored state)."""
    rng = np.random.default_rng([seed, 3, idx])
    eid = np.arange(idx * n, (idx + 1) * n, dtype=np.int64)
    ems = 1_704_067_200_000 + eid * 7 + rng.integers(-20_000, 20_001, n)
    return pa.table({
        "user_id": _zipf_keys(rng, n, keys, 0.8),
        "event_id": eid,
        "ems": ems.astype(np.int64),
        "op": OPS[rng.integers(0, len(OPS), n)],
        "value_cents": rng.integers(1, 50_000, n).astype(np.int64),
    })


def write_changes(out, seed, files, n):
    os.makedirs(out, exist_ok=True)
    for i in range(files):
        _write(change_file(seed, i, n), os.path.join(out, f"c{i:05d}.parquet"))
    return out


def lww_reference(tables):
    """The generator's own last-writer-wins state: per user_id the
    change with the greatest (ems, event_id)."""
    t = pa.concat_tables(tables)
    uid = t["user_id"].to_numpy()
    ems = t["ems"].to_numpy()
    eid = t["event_id"].to_numpy()
    order = np.lexsort((eid, ems, uid))
    last = np.r_[uid[order][1:] != uid[order][:-1], True]
    pick = order[last]
    return {int(uid[i]): (int(eid[i]), int(ems[i]), t["op"][int(i)].as_py(),
                          int(t["value_cents"][int(i)].as_py()))
            for i in pick}


def digest(path):
    """Content digest of a parquet file's rows (not its bytes)."""
    t = pq.read_table(path)
    h = hashlib.sha256()
    for c in t.column_names:
        h.update(c.encode())
        h.update(str(t[c].to_pylist()).encode())
    return h.hexdigest()
