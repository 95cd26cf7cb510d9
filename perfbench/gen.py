"""Seeded input generator for the graft benchmark.

Every workload's inputs are derived from the read-only sf0.1 tables under
the run's seed; graft only ever sees the files written here.  The source
tables are read, never written.

The analytics workload gets a directory laid out like an sf dir (one
``<table>.parquet`` per table), which is what graft's catalog queries and
their DuckDB oracle SQL read.  Fact tables are
sub-sampled with a fixed sample size, so a seed changes which rows are
used but barely changes how many; dimension tables are copied whole.
``documents`` additionally carries a seeded share of injected
near-duplicates.

The ingest workload gets slices of lineitem, events and documents: slices
for filter mode (natural violations plus injected ones), slices for strict
mode (clean rows, a seeded subset with injected violations), history
batches that set-up appends to pre-populate the sink tables, a streaming
slice split over several files, and a row sample for the per-row
validator.  ``expect.json`` holds the oracle for all of them, computed
with DuckDB from the constraint definitions.
"""
import json
import os
import shutil

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SOURCE_SF = os.path.expanduser("~/testdata/sf0.1")

# Share of each fact table the analytics workload keeps, and the share of
# documents that get an injected near-duplicate.  The working set stays
# far below Spark's storage memory (recorded per run in the result file).
ANALYTICS = {"orders": 0.05, "events": 0.05, "documents": 0.10,
             "embeddings": 0.25}
NEAR_DUP_SHARE = 0.10
DIMENSIONS = ["region", "nation", "supplier", "customer", "part"]

# Ingest sizing: rows per slice and per history batch (documents rows are
# ~10x wider), slices per mode, history versions.
INGEST_ROWS = {"lineitem": 2000, "events": 2000, "documents": 400}
HISTORY_ROWS = {"lineitem": 1000, "events": 1000, "documents": 200}
FILTER_SLICES = 1
STRICT_SLICES = 2
HISTORY_VERSIONS = 4
STREAM_FILES = 3
ROW_SAMPLE = 400
INJECT_SHARE = 0.02  # share of a dirty slice's rows given a violation

# Constraint oracle: (message, DuckDB predicate that is TRUE exactly when
# the row violates the constraint) in the order graft's Validator reports
# them: not-null checks, then per-field checks, then model checks.  A
# constraint over a NULL value passes, as in graft.
LINEITEM_CHECKS = [
    ("l_orderkey must not be null", "l_orderkey IS NULL"),
    ("l_partkey must not be null", "l_partkey IS NULL"),
    ("l_suppkey must not be null", "l_suppkey IS NULL"),
    ("l_linenumber must not be null", "l_linenumber IS NULL"),
    ("l_quantity must not be null", "l_quantity IS NULL"),
    ("l_extendedprice must not be null", "l_extendedprice IS NULL"),
    ("l_discount must not be null", "l_discount IS NULL"),
    ("l_tax must not be null", "l_tax IS NULL"),
    ("l_returnflag must not be null", "l_returnflag IS NULL"),
    ("l_linestatus must not be null", "l_linestatus IS NULL"),
    ("l_shipdate must not be null", "l_shipdate IS NULL"),
    ("l_orderkey must be >= 0", "l_orderkey < 0"),
    ("l_quantity must be >= 1.0", "l_quantity < 1.0"),
    ("l_quantity must be <= 45.0", "l_quantity > 45.0"),
    ("l_extendedprice must be > 0.0", "l_extendedprice <= 0.0"),
    ("l_discount must be >= 0.0", "l_discount < 0.0"),
    ("l_discount must be <= 0.05", "l_discount > 0.05"),
    ("l_tax must be >= 0.0", "l_tax < 0.0"),
    ("l_returnflag must have at least 1 characters",
     "length(l_returnflag) < 1"),
    ("l_returnflag must have at most 1 characters",
     "length(l_returnflag) > 1"),
    ("l_returnflag must match pattern: ^[ANR]$",
     "NOT regexp_matches(l_returnflag, '^[ANR]$')"),
    ("l_shipdate must be >= 1995-06-01T00:00:00Z",
     "l_shipdate < TIMESTAMP '1995-06-01 00:00:00'"),
    ("unit price must be <= 2000",
     "l_extendedprice / l_quantity > 2000.0"),
]
EVENTS_CHECKS = [
    ("event_id must not be null", "event_id IS NULL"),
    ("ts must not be null", "ts IS NULL"),
    ("user_id must not be null", "user_id IS NULL"),
    ("event_type must not be null", "event_type IS NULL"),
    ("schema_version must not be null", "FALSE"),
    ("user_id must be >= 0", "user_id < 0"),
    ("event_type must have at least 1 characters",
     "length(event_type) < 1"),
]
DOCUMENTS_CHECKS = [
    ("doc_id must not be null", "doc_id IS NULL"),
    ("text must not be null", "text IS NULL"),
    ("lang must not be null", "lang IS NULL"),
    ("source must not be null", "source IS NULL"),
    ("n_chars must not be null", "n_chars IS NULL"),
    ("text must have at least 1 characters", "length(text) < 1"),
    ("n_chars must be >= 0", "n_chars < 0"),
]
CHECKS = {"lineitem": LINEITEM_CHECKS, "events": EVENTS_CHECKS,
          "documents": DOCUMENTS_CHECKS}

# Injected violations: (column, value) pairs, each breaking exactly one
# constraint of its table.
INJECT = {
    "lineitem": [("l_quantity", 50.0), ("l_discount", 0.2),
                 ("l_returnflag", "X"), ("l_partkey", None)],
    "events": [("user_id", -1), ("event_type", ""), ("event_id", None)],
    "documents": [("text", ""), ("n_chars", -5), ("lang", None)],
}


def _read(name):
    return pq.read_table(os.path.join(SOURCE_SF, f"{name}.parquet"))


def _write(table, path):
    pq.write_table(table, path)
    return os.path.getsize(path)


def _take(table, idx):
    return table.take(pa.array(np.sort(idx)))


def _sample(rng, table, share):
    n = table.num_rows
    return _take(table, rng.choice(n, size=max(1, int(n * share)),
                                   replace=False))


def _near_duplicates(rng, docs, share):
    """Copies of a seeded share of documents, each with one word replaced
    or dropped, under fresh doc ids (n_chars kept equal to the text length,
    as in the source table)."""
    n = docs.num_rows
    k = max(1, int(n * share))
    pick = np.sort(rng.choice(n, size=k, replace=False))
    texts = docs.column("text").to_pylist()
    vocab = sorted({w for t in texts[:200] for w in t.split()})
    next_id = int(pc.max(docs.column("doc_id")).as_py()) + 1
    rows = {"doc_id": [], "text": [], "lang": [], "source": [],
            "n_chars": []}
    langs = docs.column("lang").to_pylist()
    sources = docs.column("source").to_pylist()
    for j, i in enumerate(pick):
        words = texts[i].split()
        pos = int(rng.integers(len(words)))
        if len(words) > 4 and rng.random() < 0.5:
            del words[pos]
        else:
            words[pos] = vocab[int(rng.integers(len(vocab)))]
        text = " ".join(words)
        rows["doc_id"].append(next_id + j)
        rows["text"].append(text)
        rows["lang"].append(langs[i])
        rows["source"].append(sources[i])
        rows["n_chars"].append(len(text))
    dup = pa.table(rows, schema=docs.schema)
    return pa.concat_tables([docs, dup]), k


def analytics(seed, out):
    """Writes the workload's sf-style directory; returns its properties."""
    rng = np.random.default_rng([seed, sum(map(ord, "analytics"))])
    share = ANALYTICS
    os.makedirs(out, exist_ok=True)
    rows, nbytes = {}, {}
    for name in DIMENSIONS:
        dst = os.path.join(out, f"{name}.parquet")
        shutil.copyfile(os.path.join(SOURCE_SF, f"{name}.parquet"), dst)
        rows[name] = pq.ParquetFile(dst).metadata.num_rows
        nbytes[name] = os.path.getsize(dst)
    orders = _sample(rng, _read("orders"), share["orders"])
    lineitem = _read("lineitem")
    lineitem = lineitem.filter(pc.is_in(lineitem.column("l_orderkey"),
                                        value_set=orders.column("o_orderkey")))
    events = _read("events")
    users = pc.unique(events.column("user_id"))
    keep = rng.choice(len(users), size=max(1, int(len(users) * share["events"])),
                      replace=False)
    events = events.filter(pc.is_in(events.column("user_id"),
                                    value_set=users.take(pa.array(keep))))
    docs, dups = _near_duplicates(
        rng, _sample(rng, _read("documents"), share["documents"]),
        NEAR_DUP_SHARE)
    emb = _sample(rng, _read("embeddings"), share["embeddings"])
    for name, t in [("orders", orders), ("lineitem", lineitem),
                    ("events", events), ("documents", docs),
                    ("embeddings", emb)]:
        rows[name] = t.num_rows
        nbytes[name] = _write(t, os.path.join(out, f"{name}.parquet"))
    return {"rows": rows, "bytes": nbytes,
            "duplicate_share": dups / docs.num_rows,
            "violation_share": 0.0, "history_versions": 0}


def _inject(rng, table, name):
    """Gives a seeded INJECT_SHARE of the rows one violation each; returns
    the new table."""
    n = table.num_rows
    k = max(1, int(n * INJECT_SHARE))
    rows = np.sort(rng.choice(n, size=k, replace=False))
    kinds = rng.integers(len(INJECT[name]), size=k)
    cols = {c: table.column(c).to_pylist() for c, _ in INJECT[name]}
    for r, kind in zip(rows, kinds):
        col, val = INJECT[name][kind]
        cols[col][r] = val
    for col, vals in cols.items():
        i = table.schema.get_field_index(col)
        table = table.set_column(i, table.schema.field(i),
                                 pa.array(vals, type=table.schema.field(i).type))
    return table


def _clean_rows(con, name):
    bad = " OR ".join(f"coalesce({p}, FALSE)" for _, p in CHECKS[name])
    return con.execute(f"SELECT * FROM '{SOURCE_SF}/{name}.parquet' "
                       f"WHERE NOT ({bad})").arrow()


def expect_slice(con, path, name):
    """Oracle for one slice: per-constraint violation counts and the number
    of rows that pass every constraint."""
    checks = CHECKS[name]
    counts = ", ".join(f"count(*) FILTER (WHERE coalesce({p}, FALSE))"
                       for _, p in checks)
    bad = " OR ".join(f"coalesce({p}, FALSE)" for _, p in checks)
    row = con.execute(f"SELECT count(*), count(*) FILTER (WHERE NOT ({bad})),"
                      f" {counts} FROM '{path}'").fetchone()
    return {"rows": row[0], "valid": row[1],
            "report": [[m, c] for (m, _), c in zip(checks, row[2:])]}


def ingest(seed, out):
    """Writes the ingest slices and ``expect.json``; returns properties."""
    rng = np.random.default_rng([seed, 7])
    con = duckdb.connect()
    os.makedirs(out, exist_ok=True)
    expect = {"tables": {}}
    total_rows = total_bytes = bad_rows = 0
    for name in ["lineitem", "events", "documents"]:
        raw = _read(name)
        clean = _clean_rows(con, name)
        rows, hist_rows = INGEST_ROWS[name], HISTORY_ROWS[name]
        raw_idx = rng.choice(raw.num_rows, size=FILTER_SLICES * rows,
                             replace=False)
        clean_need = STRICT_SLICES * rows + HISTORY_VERSIONS * hist_rows
        if name == "events":
            clean_need += rows
        clean_idx = rng.choice(clean.num_rows, size=clean_need, replace=False)
        tdir = os.path.join(out, name)
        os.makedirs(tdir, exist_ok=True)
        slices = []

        def put(kind, i, t):
            nonlocal total_rows, total_bytes, bad_rows
            path = os.path.join(tdir, f"{kind}{i}.parquet")
            size = _write(t, path)
            e = expect_slice(con, path, name)
            e.update(kind=kind, path=path, bytes=size)
            if kind in ("filter", "strict"):
                total_rows += e["rows"]
                total_bytes += size
                bad_rows += e["rows"] - e["valid"]
            return e

        for i in range(FILTER_SLICES):
            t = _take(raw, raw_idx[i * rows:(i + 1) * rows])
            slices.append(put("filter", i, _inject(rng, t, name)))
        # strict slices alternate clean / dirty from a seeded start, so each
        # table has both kinds whatever the seed
        first_dirty = int(rng.integers(2))
        for i in range(STRICT_SLICES):
            t = _take(clean, clean_idx[i * rows:(i + 1) * rows])
            if i % 2 == first_dirty:
                t = _inject(rng, t, name)
            slices.append(put("strict", i, t))
        base = STRICT_SLICES * rows
        history = []
        for v in range(HISTORY_VERSIONS):
            lo = base + v * hist_rows
            history.append(put("history", v, _take(
                clean, clean_idx[lo:lo + hist_rows])))
        entry = {"slices": slices, "history": history}
        if name == "events":
            lo = base + HISTORY_VERSIONS * hist_rows
            sdir = os.path.join(tdir, "stream")
            os.makedirs(sdir, exist_ok=True)
            per = rows // STREAM_FILES
            stream = _inject(rng, _take(clean, clean_idx[lo:lo + rows]),
                             name)
            for f in range(STREAM_FILES):
                _write(stream.slice(f * per, per),
                       os.path.join(sdir, f"part{f}.parquet"))
            e = expect_slice(con, os.path.join(sdir, "*.parquet"), name)
            e.update(kind="stream", path=sdir, files=STREAM_FILES,
                     bytes=sum(os.path.getsize(os.path.join(sdir, f))
                               for f in os.listdir(sdir)))
            entry["stream"] = e
        if name == "lineitem":
            path = os.path.join(tdir, "rowsample.parquet")
            size = _write(_take(raw, raw_idx[:ROW_SAMPLE]), path)
            e = expect_slice(con, path, name)
            e.update(kind="rowsample", path=path, bytes=size)
            entry["rowsample"] = e
        expect["tables"][name] = entry
    with open(os.path.join(out, "expect.json"), "w") as f:
        json.dump(expect, f)
    return {"rows": {"slices": total_rows}, "bytes": {"slices": total_bytes},
            "duplicate_share": 0.0,
            "violation_share": bad_rows / total_rows,
            "history_versions": HISTORY_VERSIONS}


def generate(workload, seed, out):
    if os.path.exists(out):
        shutil.rmtree(out)
    if workload == "ingest":
        return ingest(seed, out)
    return analytics(seed, out)
