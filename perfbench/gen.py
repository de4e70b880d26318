"""Seeded input generators for the benchmark workloads.

Everything the engine reads during a run is made here from `--seed`;
the same seed gives byte-identical inputs.

* `tables(dir, sf, seed)` writes the ten star-schema/corpus tables the
  `SparkEntry` queries read (region, nation, customer, supplier, part,
  orders, lineitem, events, documents, embeddings), one single-row-group
  parquet file each, with the column names, physical types and value
  distributions of the engine's reference test data.
* `olhovivo_day(dir, vehicles, seed)` lands one day of Olho Vivo poll
  documents (one JSON file per minute) under the reference's
  `posicoes/year=/month=/day=/hour=` key scheme. The fleet exercises
  every cleaning rule EP3 applies: stale gaps over 600 s, GPS teleports
  over 33 m/s, crawls under 1.4 m/s, null accessibility, and no two
  fixes of one vehicle share a timestamp.
"""
import datetime
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the big small fast slow data table row column key value part "
         "line order customer query join group sort hash merge scan filter "
         "window stream batch spark agg vector").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
ADJ = "blue hot small old red cold new large".split()
NOUN = "bolt gear anvil ring widget rod plate gizmo".split()


def _write(df, path, schema):
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table, path)


def _days(rng, n, start, end):
    span = (np.datetime64(end) - np.datetime64(start)).astype(int)
    return (np.datetime64(start, "us")
            + rng.integers(0, span + 1, n) * np.timedelta64(86400_000_000, "us"))


def tables(out_dir, sf, seed):
    """Writes the ten tables at scale factor `sf`; returns row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_evt = int(1_000_000 * sf)
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    P = os.path.join

    _write(pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        P(out_dir, "region.parquet"),
        pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)}),
        P(out_dir, "nation.parquet"),
        pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))

    def acctbal(n):
        return np.round(rng.uniform(-999.99, 9999.99, n), 2)

    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": acctbal(n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]}),
        P(out_dir, "customer.parquet"),
        pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                   ("c_acctbal", f64), ("c_mktsegment", s)]))
    _write(pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": acctbal(n_supp)}),
        P(out_dir, "supplier.parquet"),
        pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                   ("s_acctbal", f64)]))

    names = np.array([f"{a} {n}" for a in ADJ for n in NOUN])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part, dtype=np.int64)
    _write(pd.DataFrame({
        "p_partkey": pk,
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)}),
        P(out_dir, "part.parquet"),
        pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
                   ("p_size", i32), ("p_retailprice", f64)]))

    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)]}),
        P(out_dir, "orders.parquet"),
        pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                   ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)]))

    _write(pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")}),
        P(out_dir, "lineitem.parquet"),
        pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                   ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
                   ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
                   ("l_linestatus", s), ("l_shipdate", ts)]))

    # strictly increasing event times over 30 days (unique ts, like the
    # reference data); values are a rounded exponential floored at 0.01
    gaps = rng.integers(1, 2 * 30 * 86400_000_000 // n_evt, n_evt)
    evts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    _write(pd.DataFrame({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": evts,
        "user_id": rng.integers(0, max(1, int(15_000 * sf)), n_evt).astype(np.int64),
        "event_type": np.array(["click", "view", "purchase", "signup", "error"])[
            rng.integers(0, 5, n_evt)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_evt), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]}),
        P(out_dir, "events.parquet"),
        pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64),
                   ("event_type", s), ("value", f64), ("props", s)]))

    # ~5% of documents are an earlier document plus a " dup" suffix: the
    # near-duplicate population the dedup operators exist to find
    dups = set(rng.choice(np.arange(11, n_docs), n_docs // 20, replace=False).tolist())
    texts = []
    for d in range(n_docs):
        if d in dups:
            texts.append(texts[int(rng.integers(0, d))] + " dup")
        else:
            texts.append(" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB),
                                                               int(rng.integers(10, 100)))]))
    _write(pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{d % 20}" for d in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
        P(out_dir, "documents.parquet"),
        pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s),
                   ("n_chars", i64)]))

    labels = rng.integers(0, 10, n_emb)
    centers = rng.standard_normal((10, 64))
    vecs = rng.standard_normal((n_emb, 64)) + 0.15 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(vecs),
        "label": labels.astype(np.int32)}),
        P(out_dir, "embeddings.parquet"),
        pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())),
                   ("label", i32)]))
    return {"customer": n_cust, "orders": n_ord, "lineitem": n_line,
            "events": n_evt, "documents": n_docs, "embeddings": n_emb}


DAY = datetime.date(2026, 8, 10)


def olhovivo_day(out_dir, vehicles, seed, minutes=1440):
    """Lands one poll document per minute; returns the number of vehicle
    fixes written (the row count EP2 must produce)."""
    rng = np.random.default_rng(seed)
    n_lines = max(2, vehicles // 70)
    v = np.arange(vehicles)
    line = rng.integers(0, n_lines, vehicles)
    line[:n_lines] = np.arange(n_lines)
    sense = rng.integers(1, 3, vehicles)
    period = rng.uniform(30.0, 90.0, vehicles)        # minutes per 13.9 km loop
    phase = rng.uniform(0.0, 2 * np.pi, vehicles)
    offset = rng.integers(0, 60, vehicles)            # per-vehicle second: no ties
    # 1 in 17 vehicles crawl at 10% speed for two hours (< 1.4 m/s hops)
    crawler = rng.random(vehicles) < 1 / 17
    crawler[0] = True
    crawl_lo = rng.integers(300, 1080, vehicles)
    # 1 in 101 vehicles report no accessibility flag (null group key)
    access = [None if n < 1 / 101 else bool(a < 1 / 3)
              for n, a in zip(rng.random(vehicles), rng.random(vehicles))]
    access[1 % vehicles] = None
    m = np.arange(minutes)
    # 30-minute absence blocks (~9%): the reappearance gap exceeds 600 s
    absent = rng.random((vehicles, (minutes + 29) // 30)) < 1 / 11
    present = ~absent[:, m // 30]
    # single-minute dropouts (~4%): 120 s hops that must be kept
    present &= rng.random((vehicles, minutes)) >= 1 / 23
    lo = crawl_lo[:, None]
    eff = np.where(crawler[:, None],
                   np.minimum(m, lo) + np.maximum(m - lo - 120, 0)
                   + 0.1 * np.clip(m - lo, 0, 120), m)
    theta = 2 * np.pi * eff / period[:, None] + phase[:, None]
    lat0 = -23.55 + (line % 40) * 0.005
    lon0 = -46.63 + (line // 40) * 0.005
    # ~0.1% GPS teleports: one fix ~11 km off, both hops exceed 33 m/s
    glitch = np.where(rng.random((vehicles, minutes)) < 1 / 997, 0.1, 0.0)
    py = lat0[:, None] + 0.02 * np.sin(theta) + glitch
    px = lon0[:, None] + 0.025 * np.cos(theta)

    base = os.path.join(out_dir, "posicoes", f"year={DAY.year:04d}",
                        f"month={DAY.month:02d}", f"day={DAY.day:02d}")
    by_line = [np.nonzero(line == ln)[0].tolist() for ln in range(n_lines)]
    heads = [f'{{"c":"L{ln}","cl":{ln},"sl":{int(sense[ln])},"lt0":"T{ln}-A",'
             f'"lt1":"T{ln}-B","vs":[' for ln in range(n_lines)]
    flag = {None: "null", True: "true", False: "false"}
    pre = [f'{{"p":"{r}","a":{flag[access[r]]},"ta":"{DAY.isoformat()}T' for r in range(vehicles)]
    sec = [f":{int(o):02d}Z\",\"py\":" for o in offset]
    present_l, py_l, px_l = present.T.tolist(), py.T.tolist(), px.T.tolist()
    total = 0
    for mi in range(minutes):
        hour, minute = divmod(mi, 60)
        hm = f"{hour:02d}:{minute:02d}"
        here, ys, xs = present_l[mi], py_l[mi], px_l[mi]
        lines = []
        for ln in range(n_lines):
            vs = [f'{pre[r]}{hm}{sec[r]}{ys[r]!r},"px":{xs[r]!r}}}'
                  for r in by_line[ln] if here[r]]
            if vs:
                total += len(vs)
                lines.append(heads[ln] + ",".join(vs) + "]}")
        d = os.path.join(base, f"hour={hour:02d}")
        os.makedirs(d, exist_ok=True)
        name = f"data_{DAY.isoformat()}T{hour:02d}-{minute:02d}-00_r000.json"
        with open(os.path.join(d, name), "w") as f:
            f.write(f'{{"hr":"{hm}","l":[' + ",".join(lines) + "]}")
    return total
