"""Seeded input generators for the graft benchmark.

Two generators, both deterministic in their seed:

* ``change_feed`` writes a backlog of Kafka-wire-shaped parquet files
  (the ``graft.sources.KafkaWire.wireSchema`` columns) carrying an
  OLR-style JSON change feed, with at-least-once redeliveries;
* ``tables`` writes the ten TPC-H-ish tables the registry rows read
  (region, nation, customer, supplier, part, orders, lineitem, events,
  documents, embeddings) at a given scale factor.

Run directly for a self-check: ``python3 perfbench/gen.py``.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WIRE_SCHEMA = pa.schema([
    ("key", pa.binary()),
    ("value", pa.binary()),
    ("topic", pa.string()),
    ("partition", pa.int32()),
    ("offset", pa.int64()),
    ("timestamp", pa.timestamp("us", tz="UTC")),
    ("timestampType", pa.int32()),
])

TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
# 2024-01-01T00:00:00Z in microseconds
EPOCH_US = 1704067200 * 1_000_000


def change_feed(out_dir, seed, *, files, events_per_file, keys,
                redeliver_share, window_files, hot_share=0.0, hot_keys=64,
                delete_share=0.15, partitions=4, event_gap_us=1000,
                topic="olr.cdc"):
    """Write ``files`` wire files of ``events_per_file`` original events
    each, plus redeliveries, into ``out_dir``; return the manifest.

    Per key, the first event and the one after a delete are creates; any
    other event is a delete with probability ``delete_share``, else an
    update. Each original event is redelivered with probability
    ``redeliver_share``, byte-identical, into its own file or one of the
    next ``window_files`` files. Event time rises by ``event_gap_us``
    per original event, so ``watermark_delay_s`` (in the manifest) is
    large enough that no redelivery outlives its dedup state and no
    original is ever late. A share ``hot_share`` of events hits the
    first ``hot_keys`` keys (hot-key skew); the rest are uniform.
    """
    import duckdb
    rng = np.random.default_rng(seed)
    n = files * events_per_file
    i = np.arange(n)
    hot = rng.random(n) < hot_share
    key = np.where(hot, rng.integers(0, hot_keys, n), rng.integers(0, keys, n))
    roll = rng.random(n) < delete_share
    cents = rng.integers(100, 1_000_000, n)
    typ = np.array(TYPES)[rng.integers(0, len(TYPES), n)]
    scn = 10_000_000 + 2 * i + rng.integers(0, 2, n)

    # ops, walking each key's events in order (vectorized): a delete is a
    # roll that does not directly follow a delete, so inside each run of
    # consecutive delete rolls every other event is a delete
    order = np.lexsort((i, key))
    first = np.ones(n, bool)
    first[1:] = key[order][1:] != key[order][:-1]
    run = roll[order] & ~first
    last_break = np.maximum.accumulate(np.where(~run, i, -1))
    dele = run & ((i - last_break - 1) % 2 == 0)
    after_delete = np.zeros(n, bool)
    after_delete[1:] = dele[:-1]
    create = first | (after_delete & ~first)
    op_sorted = np.where(create, "c", np.where(dele, "d", "u"))
    op = np.empty(n, "<U1")
    op[order] = op_sorted
    # the before-image of an update or delete is its predecessor's after-image
    before = np.full(n, -1)
    before[order[~create]] = order[np.nonzero(~create)[0] - 1]

    ev = pa.table({
        "i": i, "scn": scn, "key": key, "op": op, "cents": cents, "typ": typ,
        "b": before, "part": (key % partitions).astype(np.int32)})
    con = duckdb.connect()
    wire = con.sql(f"""
        WITH e AS (
          SELECT e.*, p.cents AS b_cents, p.typ AS b_typ FROM ev e
          LEFT JOIN ev p ON e.b = p.i),
        img AS (
          SELECT *,
            CASE WHEN op = 'd' THEN 'null' ELSE '{{"id":' || key || ',"cents":' || cents
              || ',"type":"' || typ || '"}}' END AS after_json,
            CASE WHEN b < 0 THEN 'null' ELSE '{{"id":' || key || ',"cents":' || b_cents
              || ',"type":"' || b_typ || '"}}' END AS before_json
          FROM e)
        SELECT
          encode(CAST(key AS VARCHAR)) AS key,
          encode('{{"scn":' || scn || ',"tm":' || ({EPOCH_US} + {event_gap_us} * i)
            || ',"xid":"{seed:x}.' || lower(to_hex(i // 8)) || '","op":"' || op
            || '","key":' || key || ',"after":' || after_json
            || ',"before":' || before_json || '}}') AS value,
          '{topic}' AS topic,
          part AS partition,
          CAST(row_number() OVER (PARTITION BY part ORDER BY i) - 1 AS BIGINT) AS "offset",
          make_timestamp(CAST({EPOCH_US} + {event_gap_us} * i AS BIGINT)) AS timestamp,
          CAST(0 AS INTEGER) AS timestampType
        FROM img ORDER BY i""").arrow().cast(WIRE_SCHEMA)

    # redelivery target file of each original (-1: delivered once)
    redo = rng.random(n) < redeliver_share
    target = np.where(
        redo, np.minimum(i // events_per_file + rng.integers(0, window_files + 1, n), files - 1), -1)
    os.makedirs(out_dir, exist_ok=True)
    mtime0 = 1_700_000_000
    per_file = []
    for f in range(files):
        idx = np.concatenate([
            np.arange(f * events_per_file, (f + 1) * events_per_file),
            np.nonzero(target == f)[0]])
        idx = idx[rng.permutation(len(idx))]
        path = os.path.join(out_dir, f"feed-{f:05d}.parquet")
        pq.write_table(wire.take(idx), path)
        # the file source orders files by modification time
        os.utime(path, (mtime0 + f, mtime0 + f))
        per_file.append({"file": os.path.basename(path), "events": len(idx),
                         "redeliveries": int((target == f).sum())})
    window_us = (window_files + 1) * events_per_file * event_gap_us
    return {
        "seed": seed, "files": per_file, "originals": n,
        "redeliveries": int(redo.sum()), "keys": keys,
        "ops": {o: int((op == o).sum()) for o in "cud"},
        "watermark_delay_s": window_us // 1_000_000 + 2,
    }


def check_feed(feed_dir, manifest):
    """Self-check of a generated feed: scn is unique across originals,
    every redelivery is byte-identical to its original, and the counts
    match the manifest. Raises AssertionError on any violation."""
    import duckdb
    con = duckdb.connect()
    con.sql(f"CREATE VIEW w AS SELECT * FROM read_parquet('{feed_dir}/*.parquet')")
    originals, copies, differing = con.sql("""
        SELECT count(*), sum(n - 1), sum(CASE WHEN variants > 1 THEN 1 ELSE 0 END)
        FROM (SELECT count(*) AS n,
                     count(DISTINCT (key, value, topic, timestamp, timestampType)) AS variants
              FROM w GROUP BY partition, "offset")""").fetchone()
    scns = con.sql("""SELECT count(DISTINCT CAST(json_extract(decode(value), '$.scn') AS BIGINT))
                      FROM w""").fetchone()[0]
    assert differing == 0, f"{differing} redeliveries differ from their original"
    assert scns == originals, f"{originals - scns} scn values are not unique"
    assert originals == manifest["originals"], "original count mismatch"
    assert copies == manifest["redeliveries"], "redelivery count mismatch"
    return copies


WORDS = ("query row stream the spark line small fast group customer batch "
         "sort value hash filter big data part column order scan a slow agg "
         "key window table merge vector join").split()


def tables(out_dir, seed, sf):
    """Write the ten registry tables at scale factor ``sf`` (sf=1 is
    1.5M orders) into ``out_dir`` as ``<name>.parquet``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = 4 * n_ord, int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    day_us = 86_400 * 1_000_000
    d1995 = 788_918_400 * 1_000_000  # 1995-01-01

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(options, n):
        return np.array(options, dtype=object)[rng.integers(0, len(options), n)]

    write("region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    write("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
                              "BUILDING", "FURNITURE"], n_cust)})
    write("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj, noun = ["large", "hot", "blue", "old", "cold", "small", "red", "new"], \
        ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "screw"]
    write("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pick(TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)})
    write("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": pick(["O", "F", "P"], n_ord),
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": pa.array(d1995 + rng.integers(0, 2404, n_ord) * day_us,
                                pa.timestamp("us")),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                 "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    write("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pick(["N", "A", "R"], n_line),
        "l_linestatus": pick(["O", "F"], n_line),
        "l_shipdate": pa.array(d1995 + rng.integers(1, 2500, n_line) * day_us,
                               pa.timestamp("us"))})
    write("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.sort(EPOCH_US + rng.integers(0, 30 * day_us, n_ev)),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, max(150, int(15_000 * sf)), n_ev),
        "event_type": pick(["signup", "click", "error", "view", "purchase"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # documents: random word strings; 5% are a copy of an earlier
    # document plus the word "dup" (the near-duplicates dedup rows find)
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(pick(WORDS, int(rng.integers(8, 100)))))
    write("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": pick(["en", "en", "en", "zh", "de", "fr", "es"], n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})


if __name__ == "__main__":
    import sys
    import tempfile
    with tempfile.TemporaryDirectory(dir=os.path.dirname(os.path.abspath(__file__))) as d:
        m = change_feed(os.path.join(d, "feed"), 7, files=5, events_per_file=500,
                        keys=300, redeliver_share=0.3, window_files=2,
                        hot_share=0.2)
        assert check_feed(os.path.join(d, "feed"), m) == m["redeliveries"] > 0
        tables(os.path.join(d, "t"), 7, 0.001)
        print("gen self-check ok", m["ops"], file=sys.stderr)
