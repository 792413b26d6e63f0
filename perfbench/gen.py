"""Seeded input generator for the benchmark.

Everything the program reads is made here from `--seed`: the same seed and
scale give byte-identical parquet files. Tables follow the schema of the
engine's TPC-H-ish corpus (region, nation, customer, supplier, part, orders,
lineitem, events, documents, embeddings) so every named query and every CLI
command runs on them unchanged.

Two layouts are written:

* `corpus(dir, sf, seed)` — one `<table>.parquet` file per table, the
  read-only layout `SparkEntry.queries` and the DuckDB oracle read;
* `bulk_sources(...)` / `incremental_sources(...)` — writable source
  directories for the sync workloads, plus the per-tick deltas of
  `sync_incremental`, pre-generated and landed by the harness one tick at a
  time.

Source byte counts for `bulk_gb_per_h` are the uncompressed column-chunk
bytes in the parquet footers (`footer_bytes`), fixed by the input.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = np.array(["en", "en", "en", "zh", "es", "fr", "de"])
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
PTYPES = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
PADJ = np.array(["red", "small", "blue", "hot", "old", "large", "green", "cold"])
PNOUN = np.array(["widget", "gear", "plate", "bolt", "anvil", "ring", "rod", "nut"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
US_PER_DAY = 86_400 * 1_000_000
# 1995-01-01 .. 2001-08-01 (orders), shipdates up to ~100 days later
ORDER_LO = np.datetime64("1995-01-01", "us").astype(np.int64)
ORDER_DAYS = 2404
EVENT_LO = np.datetime64("2024-01-01", "us").astype(np.int64)
EVENT_SPAN_US = 30 * US_PER_DAY


def _ts(us):
    return pa.array(np.asarray(us, dtype=np.int64), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng, n):
    """Word-salad documents (44-577 chars); 5% are near-duplicates of an
    earlier document (its text plus a `dup` token) so the dedup operators
    have real work."""
    lens = rng.integers(8, 90, n)
    words = np.array(WORDS)
    out = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            out.append(out[int(rng.integers(0, i))] + " dup")
        else:
            out.append(" ".join(words[rng.integers(0, len(words), lens[i])]))
    return out


TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


def tables(sf, seed, names=TABLES):
    """Corpus tables at scale `sf` as pyarrow Tables (sf 0.1 ≈ 600k
    lineitem rows, the engine's bench corpus size). Each table draws from
    its own random stream, so asking for a subset yields the same rows."""
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = max(600, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_doc = max(50, int(50_000 * sf))
    n_emb = max(20, int(20_000 * sf))
    t = {}
    rngs = {n: np.random.default_rng([seed, 1, i]) for i, n in enumerate(TABLES)}
    want = set(names)
    if "region" in want:
        t["region"] = pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    if "nation" in want:
        t["nation"] = pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    if "customer" in want:
        rng = rngs["customer"]
        t["customer"] = pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)]})
    if "supplier" in want:
        rng = rngs["supplier"]
        t["supplier"] = pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    if "part" in want:
        rng = rngs["part"]
        t["part"] = pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.char.add(np.char.add(PADJ[rng.integers(0, 8, n_part)], " "),
                                  PNOUN[rng.integers(0, 8, n_part)]),
            "p_brand": np.char.add("Brand#", rng.integers(1, 65, n_part).astype(str)),
            "p_type": PTYPES[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    if "orders" in want:
        rng = rngs["orders"]
        odate = ORDER_LO + rng.integers(0, ORDER_DAYS + 1, n_ord) * US_PER_DAY
        t["orders"] = pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(odate),
            "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)]})
    if "lineitem" in want:
        rng = rngs["lineitem"]
        qty = rng.integers(1, 51, n_line).astype(np.float64)
        t["lineitem"] = pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, n_line), 2),
            "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
            "l_returnflag": np.array(["N", "A", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _ts(ORDER_LO + rng.integers(1, ORDER_DAYS + 95, n_line) * US_PER_DAY)})
    if "events" in want:
        rng = rngs["events"]
        ev_ts = np.sort(EVENT_LO + rng.integers(0, EVENT_SPAN_US, n_ev))
        t["events"] = pa.table({
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts(ev_ts),
            "user_id": rng.integers(0, 1500, n_ev).astype(np.int64),
            "event_type": EVENT_TYPES[rng.integers(0, 5, n_ev)],
            "value": _money(rng, 0.0, 560.0, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    if "documents" in want:
        rng = rngs["documents"]
        texts = _texts(rng, n_doc)
        t["documents"] = pa.table({
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": LANGS[rng.integers(0, len(LANGS), n_doc)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})
    if "embeddings" in want:
        rng = rngs["embeddings"]
        labels = rng.integers(0, 10, n_emb).astype(np.int32)
        centroids = rng.normal(0.0, 1.0, (10, 64))
        vecs = centroids[labels] + rng.normal(0.0, 0.8, (n_emb, 64))
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        t["embeddings"] = pa.table({
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.astype(np.float32).ravel()), 64).cast(pa.list_(pa.float32())),
            "label": pa.array(labels)})
    return t


def footer_bytes(path):
    """Uncompressed column-chunk bytes of a parquet file, from its footer."""
    md = pq.ParquetFile(path).metadata
    return sum(md.row_group(r).column(c).total_uncompressed_size
               for r in range(md.num_row_groups) for c in range(md.num_columns))


def corpus(out, sf, seed):
    """The read-only corpus layout: `<out>/<table>.parquet`, one file each.
    Returns the corpus's uncompressed footer bytes."""
    os.makedirs(out, exist_ok=True)
    total = 0
    for name, tbl in tables(sf, seed).items():
        f = os.path.join(out, f"{name}.parquet")
        pq.write_table(tbl, f)
        total += footer_bytes(f)
    return total


# narrow numeric rows and ~300-char text rows, at their own scale factors
BULK_TABLES = {"lineitem": 0.01, "documents": 0.1}


def bulk_sources(out, seed):
    """`sync_bulk` sources: each table as a directory holding one parquet
    file. Returns {table: {"rows": n, "bytes": uncompressed footer bytes}}."""
    t = {n: tables(sf, seed, (n,))[n] for n, sf in BULK_TABLES.items()}
    manifest = {}
    for name in BULK_TABLES:
        d = os.path.join(out, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        f = os.path.join(d, "part-00000.parquet")
        pq.write_table(t[name], f)
        manifest[name] = {"rows": t[name].num_rows, "bytes": footer_bytes(f)}
    return manifest


def incremental_sources(out, deltas_dir, sf, seed, ticks, delta_frac=0.01,
                        txns_per_tick=4):
    """`sync_incremental` sources and per-tick deltas.

    * `events_ao` (append-only, pk `event_id`): each tick appends new events
      with fresh, increasing keys.
    * `orders_up` (upsert, pk `o_orderkey`, last-modified `updated_at`): each
      tick inserts new orders and writes newer versions of existing ones,
      skewed toward recent keys, so a key may change on consecutive ticks.
      A tick's changes commit in `txns_per_tick` source transactions; rows
      of one transaction share its commit timestamp, as `now()` does in a
      Postgres transaction.

    Returns, per tick, each table's delta row count and uncompressed footer
    bytes: `[{table: {"rows": n, "bytes": b}}]`.
    The initial tables land in `<out>/<name>.parquet/part-00000.parquet`;
    tick k's files in `<deltas_dir>/<k>/<name>/`, to be moved into the
    source directory before tick k. Every key version in a tick is unique,
    and its `updated_at` is strictly newer than every earlier version.
    """
    t = tables(sf, seed, ("orders", "events"))
    n_cust = max(15, int(150_000 * sf))
    rng = np.random.default_rng([seed, 2])
    ev = t["events"]
    orders = t["orders"]
    n_ord = orders.num_rows
    base_updated = (orders.column("o_orderdate").cast(pa.int64()).to_numpy()
                    + rng.integers(0, US_PER_DAY, n_ord))
    orders = orders.append_column("updated_at", _ts(base_updated))
    for name, tbl in (("events_ao", ev), ("orders_up", orders)):
        d = os.path.join(out, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        pq.write_table(tbl, os.path.join(d, "part-00000.parquet"))

    ev_next = ev.num_rows
    ev_ts = EVENT_LO + EVENT_SPAN_US
    ord_next = n_ord
    # latest version of each order key, to draw updates from
    cur = {c: orders.column(c).to_numpy(zero_copy_only=False).copy()
           for c in ("o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")}
    cur["o_orderdate"] = orders.column("o_orderdate").cast(pa.int64()).to_numpy().copy()
    grow = lambda a, n, fill: np.concatenate([a, np.full(n, fill, dtype=a.dtype)])
    # commit clock: strictly after every base version
    clock = int(max(base_updated.max(), ORDER_LO + (ORDER_DAYS + 1) * US_PER_DAY))
    n_ev_delta = max(1, int(ev.num_rows * delta_frac))
    n_new = max(1, int(n_ord * delta_frac) // 2)
    n_upd = max(1, int(n_ord * delta_frac) - n_new)
    per_tick = []
    for k in range(ticks):
        # events_ao: new keys, later timestamps
        ids = np.arange(ev_next, ev_next + n_ev_delta, dtype=np.int64)
        ev_ts_k = np.sort(ev_ts + rng.integers(0, 3_600_000_000, n_ev_delta))
        ev_ts = int(ev_ts_k[-1])
        delta_ev = pa.table({
            "event_id": ids, "ts": _ts(ev_ts_k),
            "user_id": rng.integers(0, 1500, n_ev_delta).astype(np.int64),
            "event_type": EVENT_TYPES[rng.integers(0, 5, n_ev_delta)],
            "value": _money(rng, 0.0, 560.0, n_ev_delta),
            "props": [f'{{"k": {x}}}' for x in rng.integers(0, 100, n_ev_delta)]})
        ev_next += n_ev_delta
        # orders_up: new keys, plus updates skewed toward the newest keys
        new_keys = np.arange(ord_next, ord_next + n_new, dtype=np.int64)
        ord_next += n_new
        for c, fill in (("o_custkey", 0), ("o_orderstatus", "O"),
                        ("o_totalprice", 0.0), ("o_orderpriority", "5-LOW"),
                        ("o_orderdate", 0)):
            cur[c] = grow(cur[c], n_new, fill)
        cur["o_custkey"][new_keys] = rng.integers(0, n_cust, n_new)
        cur["o_orderstatus"][new_keys] = "O"
        cur["o_totalprice"][new_keys] = _money(rng, 1000.0, 500_000.0, n_new)
        cur["o_orderpriority"][new_keys] = PRIORITIES[rng.integers(0, 5, n_new)]
        cur["o_orderdate"][new_keys] = ORDER_LO + ORDER_DAYS * US_PER_DAY
        back = np.minimum(rng.exponential(0.05 * ord_next, n_upd * 2).astype(np.int64),
                          ord_next - 1)
        upd = np.unique(ord_next - 1 - back)
        upd = upd[~np.isin(upd, new_keys)]
        upd = rng.permutation(upd)[:n_upd]
        cur["o_orderstatus"][upd] = np.array(["F", "O", "P"])[rng.integers(0, 3, len(upd))]
        cur["o_totalprice"][upd] = _money(rng, 1000.0, 500_000.0, len(upd))
        keys = rng.permutation(np.concatenate([new_keys, upd]))
        txn = rng.integers(0, txns_per_tick, len(keys))
        commit = clock + (1 + txn) * 1_000_000
        clock += (txns_per_tick + 1) * 1_000_000
        delta_ord = pa.table({
            "o_orderkey": keys,
            "o_custkey": cur["o_custkey"][keys].astype(np.int64),
            "o_orderstatus": cur["o_orderstatus"][keys],
            "o_totalprice": cur["o_totalprice"][keys].astype(np.float64),
            "o_orderdate": _ts(cur["o_orderdate"][keys]),
            "o_orderpriority": cur["o_orderpriority"][keys],
            "updated_at": _ts(commit)})
        tick = {}
        for name, tbl in (("events_ao", delta_ev), ("orders_up", delta_ord)):
            d = os.path.join(deltas_dir, str(k), name)
            os.makedirs(d, exist_ok=True)
            f = os.path.join(d, f"delta-{k:05d}.parquet")
            pq.write_table(tbl, f)
            tick[name] = {"rows": tbl.num_rows, "bytes": footer_bytes(f)}
        per_tick.append(tick)
    return per_tick

