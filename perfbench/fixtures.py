"""Seeded fixture generator for the nightly-pass benchmark.

Builds, from a seed alone, the two input trees the benchmark drives:

* lake L -- ``lake/dbNN/<table>.parquet`` databases for the full pass and
  the budgeted rotation. Database ``db00`` stores ``lineitem``, ``orders``
  and ``events`` as small-file directory tables; the other databases hold
  single files. Seeded violations are injected: NaN doubles, out-of-range
  timestamps and one zero-byte part.
* the arrival zone -- ``arrival/history`` (H drained nights of documents,
  embeddings and one takedown file),
  ``arrival/resident`` (the resident database) and ``arrival/night`` (one
  busy night: documents with cross-store near-duplicates, embeddings, one
  takedown file, and new parts for two resident tables, one of which
  carries a single all-null row).

The schemas follow the engine's sf fixtures (TPC-H-like tables, events,
documents, embeddings). Every file is written by pyarrow with fixed
settings, so the same seed gives byte-identical files. ``manifest.json``
records each file's bytes and rows and the injected-violation counts the
correctness checks compare against.

Usage: python3 fixtures.py OUT_DIR SEED [lake|arrival|all]
"""

import datetime as dt
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_DBS = 2
SMALL_FILE_DB = "db00"
SMALL_FILE_TABLES = {"lineitem": 32, "orders": 32, "events": 32}
ZERO_BYTE_TABLE = "events"
ROWS = {"lineitem": 120_000, "orders": 30_000, "events": 40_000,
        "customer": 3_000, "part": 4_000}

HISTORY_NIGHTS = 30
HIST_DOC_FILES, HIST_DOCS_PER_FILE = 1, 30
HIST_VEC_FILES, HIST_VECS_PER_FILE = 1, 30
NIGHT_DOC_FILES, NIGHT_DOCS_PER_FILE = 6, 50
NIGHT_VEC_FILES, NIGHT_VECS_PER_FILE = 4, 50
NIGHT_NEAR_DUPS = 24
TAKEDOWN_DOCS, TAKEDOWN_VECS = 10, 10
RESIDENT_DOCS = 1500
RESIDENT_BASE_PARTS, RESIDENT_PART_ROWS = 4, 2_000
EMBED_DIM = 32
VOCAB = np.array([f"w{i:04d}" for i in range(3000)])

UTC = dt.timezone.utc
TS = pa.timestamp("us", tz="UTC")
EPOCH_US = int(dt.datetime(1992, 1, 1, tzinfo=UTC).timestamp() * 1e6)
SPAN_US = int(7 * 365.25 * 86400 * 1e6)
BAD_TS_US = [int(dt.datetime(1850, 6, 1, tzinfo=UTC).timestamp() * 1e6),
             int(dt.datetime(2150, 6, 1, tzinfo=UTC).timestamp() * 1e6)]


def _rng(seed, *parts):
    """Independent, order-free stream per (seed, purpose)."""
    h = hashlib.sha256(("|".join(map(str, (seed,) + parts))).encode())
    return np.random.default_rng(int.from_bytes(h.digest()[:8], "little"))


class Writer:
    """Writes parquet files under a root and records them for the manifest."""

    def __init__(self, root):
        self.root = root
        self.files = []

    def write(self, rel, table):
        path = os.path.join(self.root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(table, path, compression="snappy",
                       use_dictionary=True, write_statistics=True)
        self.files.append({"path": rel, "bytes": os.path.getsize(path),
                           "rows": table.num_rows})

    def write_empty(self, rel):
        path = os.path.join(self.root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        open(path, "wb").close()
        self.files.append({"path": rel, "bytes": 0, "rows": 0})


def _ts(rng, n):
    return pa.array(EPOCH_US + rng.integers(0, SPAN_US, n), type=TS)


def _table(name, rng, n, key0=0):
    """One TPC-H-like table of `n` rows; keys start at `key0`."""
    keys = np.arange(key0, key0 + n, dtype=np.int64)
    if name == "lineitem":
        return pa.table({
            "l_orderkey": keys // 4, "l_partkey": rng.integers(0, 20_000, n),
            "l_suppkey": rng.integers(0, 1_000, n),
            "l_linenumber": pa.array((keys % 4 + 1).astype(np.int32)),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105_000, n), 2),
            "l_discount": np.round(rng.uniform(0, 0.1, n), 2),
            "l_tax": np.round(rng.uniform(0, 0.08, n), 2),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
            "l_shipdate": _ts(rng, n)})
    if name == "orders":
        return pa.table({
            "o_orderkey": keys, "o_custkey": rng.integers(0, 15_000, n),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n)),
            "o_totalprice": np.round(rng.uniform(800, 500_000, n), 2),
            "o_orderdate": _ts(rng, n),
            "o_orderpriority": pa.array(
                rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-LOW"], n))})
    if name == "events":
        return pa.table({
            "event_id": keys, "ts": _ts(rng, n),
            "user_id": rng.integers(0, 50_000, n),
            "event_type": pa.array(
                rng.choice(["view", "click", "cart", "buy"], n)),
            "value": np.round(rng.exponential(20.0, n), 3),
            "props": pa.array([f"k{v}" for v in rng.integers(0, 64, n)])})
    if name == "customer":
        return pa.table({
            "c_custkey": keys, "c_nationkey": rng.integers(0, 25, n),
            "c_acctbal": np.round(rng.uniform(-999, 9_999, n), 2),
            "c_mktsegment": pa.array(
                rng.choice(["AUTO", "BUILDING", "FURNITURE"], n))})
    if name == "part":
        return pa.table({
            "p_partkey": keys, "p_size": rng.integers(1, 51, n),
            "p_retailprice": np.round(rng.uniform(900, 2_100, n), 2),
            "p_brand": pa.array([f"Brand#{v}" for v in rng.integers(11, 56, n)])})
    raise ValueError(name)


# The column that takes injected NaNs / out-of-range timestamps, per table.
NAN_COL = {"lineitem": "l_extendedprice", "orders": "o_totalprice",
           "events": "value", "customer": "c_acctbal", "part": "p_retailprice"}
TS_COL = {"lineitem": "l_shipdate", "orders": "o_orderdate", "events": "ts"}


def _inject(table, name, rng):
    """Seeded NaN doubles and out-of-range timestamps. Returns
    (table, nan_count, bad_ts_count); each is a distinct row."""
    n = table.num_rows
    n_nan = int(rng.integers(0, 4))
    n_ts = int(rng.integers(0, 3)) if name in TS_COL else 0
    rows = rng.choice(n, n_nan + n_ts, replace=False)
    if n_nan:
        col = table.column(NAN_COL[name]).to_numpy().copy()
        col[rows[:n_nan]] = np.nan
        table = table.set_column(table.schema.get_field_index(NAN_COL[name]),
                                 NAN_COL[name], pa.array(col))
    if n_ts:
        col = table.column(TS_COL[name]).cast(pa.int64()).to_numpy().copy()
        col[rows[n_nan:]] = [BAD_TS_US[i % 2] for i in range(n_ts)]
        table = table.set_column(table.schema.get_field_index(TS_COL[name]),
                                 TS_COL[name], pa.array(col, type=TS))
    return table, n_nan, n_ts


def build_lake(out, seed):
    w = Writer(out)
    tables = {}
    for d in range(N_DBS):
        db = f"db{d:02d}"
        for name, rows in ROWS.items():
            rng = _rng(seed, "lake", db, name)
            t, n_nan, n_ts = _inject(_table(name, rng, rows), name, rng)
            entry = {"nan": n_nan, "bad_ts": n_ts, "zero_byte_parts": 0,
                     "rows": rows}
            base = f"lake/{db}/{name}.parquet"
            if db == SMALL_FILE_DB and name in SMALL_FILE_TABLES:
                parts = SMALL_FILE_TABLES[name]
                bounds = np.linspace(0, rows, parts + 1).astype(int)
                for p in range(parts):
                    w.write(f"{base}/part-{p:05d}.parquet",
                            t.slice(bounds[p], bounds[p + 1] - bounds[p]))
                if name == ZERO_BYTE_TABLE:
                    # sorts mid-directory: never the footer schema
                    # inference reads first
                    w.write_empty(f"{base}/part-{parts // 2:05d}-z.parquet")
                    entry["zero_byte_parts"] = 1
            else:
                w.write(base, t)
            # CHECKTABLE counts NaN doubles and out-of-range timestamps;
            # CHECKALLOC counts zero-byte storage units
            entry["checktable_violations"] = n_nan + n_ts
            tables[f"{db}.main.{name}"] = entry
    return w.files, {
        "databases": [f"db{d:02d}" for d in range(N_DBS)],
        "tables": tables,
        "checkalloc_violations": {
            f"db{d:02d}": sum(e["zero_byte_parts"] for k, e in tables.items()
                              if k.startswith(f"db{d:02d}."))
            for d in range(N_DBS)},
        "injected_total": sum(e["nan"] + e["bad_ts"] + e["zero_byte_parts"]
                              for e in tables.values())}


def _docs(rng, ids, night, seed):
    """Documents of 20-60 vocabulary words plus the night's marker token."""
    marker = f"mk{seed % 997}n{night}"
    texts = []
    for n in rng.integers(20, 61, len(ids)):
        words = list(VOCAB[rng.integers(0, len(VOCAB), n)])
        words.insert(int(rng.integers(0, n)), marker)
        texts.append(" ".join(words))
    return texts


def _doc_table(ids, texts, rng):
    return pa.table({
        "doc_id": pa.array(ids, type=pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(["en", "de", "fr", "es"], len(ids))),
        "source": pa.array([f"src{i % 5}" for i in ids]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64())})


def _vec_table(ids, rng):
    vecs = rng.normal(0.0, 0.2, (len(ids), EMBED_DIM)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(ids, type=pa.int64()),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 8, len(ids)).astype(np.int32))})


def _near_dup(text, rng, marker):
    words = text.split(" ")
    words[int(rng.integers(0, len(words)))] = marker
    return " ".join(words)


def build_arrival(out, seed):
    w = Writer(out)
    hist_texts = {}
    doc_id = 0
    vec_id = 0
    res_key = {"orders": 10_000_000, "events": 20_000_000}
    # resident database: two directory tables (base parts) and the
    # resident corpus the OOV QC compares against
    rng = _rng(seed, "resident")
    for name in ("orders", "events"):
        for p in range(RESIDENT_BASE_PARTS):
            w.write(f"arrival/resident/{name}.parquet/part-base{p:02d}.parquet",
                    _table(name, rng, RESIDENT_PART_ROWS, res_key[name]))
            res_key[name] += RESIDENT_PART_ROWS
    res_ids = list(range(-RESIDENT_DOCS, 0))
    w.write("arrival/resident/documents.parquet",
            _doc_table(res_ids, _docs(rng, res_ids, -1, seed), rng))

    for h in range(HISTORY_NIGHTS):
        rng = _rng(seed, "history", h)
        for f in range(HIST_DOC_FILES):
            ids = list(range(doc_id, doc_id + HIST_DOCS_PER_FILE))
            doc_id += HIST_DOCS_PER_FILE
            texts = _docs(rng, ids, h, seed)
            hist_texts.update(zip(ids, texts))
            w.write(f"arrival/history/documents/n{h:03d}-{f}.parquet",
                    _doc_table(ids, texts, rng))
        for f in range(HIST_VEC_FILES):
            ids = list(range(vec_id, vec_id + HIST_VECS_PER_FILE))
            vec_id += HIST_VECS_PER_FILE
            w.write(f"arrival/history/embeddings/n{h:03d}-{f}.parquet",
                    _vec_table(ids, rng))
        if h == HISTORY_NIGHTS // 2:
            # an earlier takedown, drained and archived before tonight
            gone = sorted(int(x) for x in rng.choice(doc_id, 2, replace=False))
            w.write(f"arrival/history/forget/n{h:03d}.parquet",
                    pa.table({"doc_id": pa.array(gone, type=pa.int64())}))
            for g in gone:
                hist_texts.pop(g, None)

    # tonight
    night = HISTORY_NIGHTS
    rng = _rng(seed, "night")
    survivors = sorted(hist_texts)
    dup_src = sorted(int(x) for x in
                     rng.choice(survivors, NIGHT_NEAR_DUPS, replace=False))
    new_ids = []
    for f in range(NIGHT_DOC_FILES):
        ids = list(range(doc_id, doc_id + NIGHT_DOCS_PER_FILE))
        doc_id += NIGHT_DOCS_PER_FILE
        texts = _docs(rng, ids, night, seed)
        # near-duplicates of resident-store documents: the pairs that
        # cross the store boundary
        for k in range(f, NIGHT_NEAR_DUPS, NIGHT_DOC_FILES):
            texts[k // NIGHT_DOC_FILES] = _near_dup(
                hist_texts[dup_src[k]], rng, f"mk{seed % 997}n{night}")
        new_ids += ids
        w.write(f"arrival/night/documents/n{night:03d}-{f}.parquet",
                _doc_table(ids, texts, rng))
    new_vecs = []
    for f in range(NIGHT_VEC_FILES):
        ids = list(range(vec_id, vec_id + NIGHT_VECS_PER_FILE))
        vec_id += NIGHT_VECS_PER_FILE
        new_vecs += ids
        w.write(f"arrival/night/embeddings/n{night:03d}-{f}.parquet",
                _vec_table(ids, rng))
    # takedown sample: resident documents that are NOT near-dup sources
    # tonight, and resident vectors
    pool = sorted(set(survivors) - set(dup_src))
    gone_docs = sorted(int(x) for x in
                       rng.choice(pool, TAKEDOWN_DOCS, replace=False))
    hist_vecs = HISTORY_NIGHTS * HIST_VEC_FILES * HIST_VECS_PER_FILE
    gone_vecs = sorted(int(x) for x in
                       rng.choice(hist_vecs, TAKEDOWN_VECS, replace=False))
    w.write(f"arrival/night/forget/n{night:03d}.parquet", pa.table({
        "doc_id": pa.array(gone_docs, type=pa.int64()),
        "vec_id": pa.array(gone_vecs, type=pa.int64())}))
    for name in ("orders", "events"):
        t = _table(name, rng, 200, res_key[name])
        if name == "events":
            # the night's one corrupt row: every column null
            t = pa.concat_tables([t, pa.Table.from_pylist(
                [{c: None for c in t.column_names}], schema=t.schema)])
        w.write(f"arrival/night/resident/{name}.parquet/"
                f"part-n{night:03d}.parquet", t)

    hist_docs = HISTORY_NIGHTS * HIST_DOC_FILES * HIST_DOCS_PER_FILE
    return w.files, {
        "history_nights": HISTORY_NIGHTS,
        "history_docs": hist_docs,
        "history_docs_forgotten": hist_docs - len(hist_texts),
        "history_vecs": hist_vecs,
        "night_doc_ids": new_ids,
        "night_vec_ids": new_vecs,
        "takedown_doc_ids": gone_docs,
        "takedown_vec_ids": gone_vecs,
        "near_dup_sources": dup_src,
        "night_null_rows": 1}


def build(out, seed, which="all"):
    """Generate the requested trees under `out`; returns the manifest."""
    manifest = {"seed": seed, "files": []}
    if which in ("lake", "all"):
        files, facts = build_lake(out, seed)
        manifest["files"] += files
        manifest["lake"] = facts
    if which in ("arrival", "all"):
        files, facts = build_arrival(out, seed)
        manifest["files"] += files
        manifest["arrival"] = facts
    manifest["total_bytes"] = sum(f["bytes"] for f in manifest["files"])
    manifest["total_rows"] = sum(f["rows"] for f in manifest["files"])
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    m = build(sys.argv[1], int(sys.argv[2]),
              sys.argv[3] if len(sys.argv) > 3 else "all")
    print(json.dumps({"files": len(m["files"]), "bytes": m["total_bytes"],
                      "rows": m["total_rows"]}))
