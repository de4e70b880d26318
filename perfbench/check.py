"""Correctness checks for benchmark outputs, run in DuckDB after the
timed window.

`queries(data_dir, verify_dir, oracle, names)` compares each query's Spark output with
its oracle SQL run over the same generated tables: columns sorted by
name, rows compared as sorted multisets of exact cell reprs (queries
round doubles on both sides), list-typed columns rejected.

`day(base, day, expected_rows)` replays EP3 over the positions EP2
wrote and compares the three CSV outputs: group keys, row counts and
integer seconds exactly; means within 1e-9; sums of per-hop rounded
distances within 0.02 (one hop on a .005 rounding boundary moves a
sum by 0.01). It also requires EP2's row count to equal the number of
fixes generated, and that the day produced slow points and
null-accessibility groups.

Both return a list of failure messages; empty means correct.
"""
import concurrent.futures
import glob
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _rows(table):
    cols = sorted(table.column_names)
    return cols, sorted(tuple(repr(r[c]) for c in cols) for r in table.to_pylist())


def queries(data_dir, verify_dir, oracle, names):
    """Checks the outputs of `names`; returns (failures, verified, skipped).
    The oracle queries run concurrently, one DuckDB cursor each."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    # q47/q59/q130 share one recursive-walk prefix; materialize it once
    walk_end = "min(lab) AS cluster_id FROM walk GROUP BY id)"
    prefixes = {}
    for name, sql in oracle.items():
        i = sql.find(walk_end)
        if i >= 0:
            prefixes.setdefault(sql[:i + len(walk_end)], []).append(name)
    for k, (prefix, sharers) in enumerate(p for p in prefixes.items() if len(p[1]) > 1):
        tmp = f"clus_shared_{k}"
        con.execute(f"CREATE TABLE {tmp} AS {prefix}\nSELECT doc_id, cluster_id FROM clus")
        for name in sharers:
            oracle[name] = f"WITH clus AS (SELECT * FROM {tmp})" + oracle[name][len(prefix):]

    def one(name):
        cur = con.cursor()
        files = glob.glob(f"{verify_dir}/{name}/*.parquet")
        if not files:
            return f"{name}: no output"
        got = cur.execute(f"SELECT * FROM read_parquet({files!r})").fetch_arrow_table()
        if name not in oracle:
            return None
        listy = [f.name for f in got.schema
                 if str(f.type).startswith(("list", "large_list", "fixed_size_list"))]
        if listy:
            return f"{name}: list-typed columns {listy}"
        try:
            exp = cur.execute(oracle[name]).fetch_arrow_table()
        except Exception as e:
            return f"{name}: oracle SQL error: {e}"
        gcols, grows = _rows(got)
        ecols, erows = _rows(exp)
        if gcols != ecols:
            return f"{name}: columns {gcols} != {ecols}"
        if grows != erows:
            only_g = [r for r in grows if r not in set(erows)][:2]
            only_e = [r for r in erows if r not in set(grows)][:2]
            return (f"{name}: {len(grows)} vs {len(erows)} rows; "
                    f"spark-only={only_g} oracle-only={only_e}")
        return ""

    with concurrent.futures.ThreadPoolExecutor(max_workers=os.cpu_count()) as pool:
        results = list(pool.map(one, sorted(names)))
    failures = [r for r in results if r]
    return failures, results.count(""), results.count(None)


_HOPS = """
WITH pos AS (
  SELECT * FROM read_parquet('{base}/posicoes/*/*.parquet', hive_partitioning=1)
  WHERE data = DATE '{day}'
),
lagged AS (
  SELECT *, lag(px) OVER w AS px_a, lag(py) OVER w AS py_a,
         lag("timestamp") OVER w AS ts_a
  FROM pos WINDOW w AS (PARTITION BY prefixo_veiculo ORDER BY "timestamp")
),
hops0 AS (
  SELECT *, "timestamp" - ts_a AS tempo,
    round(2 * 6371000 * atan2(
      sqrt(pow(sin(radians(py - py_a) / 2), 2)
         + cos(radians(py_a)) * cos(radians(py))
         * pow(sin(radians(px - px_a) / 2), 2)),
      sqrt(1 - (pow(sin(radians(py - py_a) / 2), 2)
         + cos(radians(py_a)) * cos(radians(py))
         * pow(sin(radians(px - px_a) / 2), 2)))), 2) AS distancia
  FROM lagged WHERE px_a IS NOT NULL
),
clean AS (
  SELECT *, distancia / tempo AS velocidade_media,
    CAST(make_timestamp("timestamp" * 1000000) AS DATE) AS data_evt,
    strftime(make_timestamp(("timestamp" // 1800) * 1800 * 1000000), '%H:%M')
      || '-' ||
    strftime(make_timestamp((("timestamp" // 1800) * 1800 + 1800) * 1000000), '%H:%M')
      AS intervalo
  FROM hops0
  WHERE tempo > 0 AND tempo <= 600 AND NOT (distancia / tempo > 33)
)
"""

_KEYS = ["data", "intervalo", "letreiro", "codigo_linha", "sentido_linha",
         "origem_linha", "destino_linha", "prefixo_veiculo"]
_COMMON = ("'data': 'DATE', 'intervalo': 'VARCHAR', 'letreiro': 'VARCHAR', "
           "'codigo_linha': 'INTEGER', 'sentido_linha': 'INTEGER', "
           "'origem_linha': 'VARCHAR', 'destino_linha': 'VARCHAR', "
           "'prefixo_veiculo': 'VARCHAR', 'px': 'DOUBLE', 'py': 'DOUBLE'")
_SPEED_TYPES = "{" + _COMMON + ", 'velocidade_media': 'DOUBLE', 'tempo': 'BIGINT', " \
                               "'distancia': 'DOUBLE'}"
_ACESS_TYPES = "{" + _COMMON + ", 'acessibilidade': 'BOOLEAN'}"


def day(base, day, expected_rows):
    con = duckdb.connect()
    month = day[:7]
    hops = _HOPS.format(base=base, day=day)
    failures = []

    def check(name, ok, detail):
        if not ok:
            failures.append(f"{name}: {detail}")

    def csv(sub, types):
        return f"SELECT * FROM read_csv('{base}/out/{sub}/*.csv', header=true, columns={types})"

    n_pos = con.execute(
        f"SELECT count(*) FROM read_parquet('{base}/posicoes/*/*.parquet')").fetchone()[0]
    check("ep2_rows", n_pos == expected_rows, {"engine": n_pos, "generated": expected_rows})
    join_on = " AND ".join(f"e.{k} = o.{k}" for k in _KEYS)

    con.execute(f"""CREATE TEMP TABLE oracle_agg AS {hops}
      SELECT data_evt AS data, intervalo, letreiro, codigo_linha, sentido_linha,
        origem_linha, destino_linha, prefixo_veiculo, avg(px) AS px, avg(py) AS py,
        sum(distancia) AS distancia, CAST(sum(tempo) AS BIGINT) AS tempo,
        sum(distancia) / sum(tempo) AS velocidade_media
      FROM clean GROUP BY ALL""")
    con.execute("CREATE TEMP TABLE eng_agg AS "
                + csv(f"velocidades-agg/{month}/vel-agg-{day}.csv", _SPEED_TYPES))
    n_eng, n_ora = con.execute("SELECT (SELECT count(*) FROM eng_agg), "
                               "(SELECT count(*) FROM oracle_agg)").fetchone()
    check("agg_rows", n_eng == n_ora and n_eng > 0, {"engine": n_eng, "oracle": n_ora})
    miss, extra, dpx, dpy, ddist, dtempo, dvel = con.execute(f"""
      SELECT count(*) FILTER (WHERE e.prefixo_veiculo IS NULL),
        count(*) FILTER (WHERE o.prefixo_veiculo IS NULL),
        max(abs(e.px - o.px)), max(abs(e.py - o.py)),
        max(abs(e.distancia - o.distancia)), max(abs(e.tempo - o.tempo)),
        max(abs(e.velocidade_media - o.velocidade_media))
      FROM eng_agg e FULL OUTER JOIN oracle_agg o ON {join_on}""").fetchone()
    check("agg_groups", miss == 0 and extra == 0, {"missing": miss, "extra": extra})
    check("agg_tempo_exact", dtempo == 0, {"max_diff": dtempo})
    check("agg_px", dpx is not None and dpx <= 1e-9, {"max_diff": dpx})
    check("agg_py", dpy is not None and dpy <= 1e-9, {"max_diff": dpy})
    check("agg_distancia", ddist is not None and ddist <= 0.02, {"max_diff": ddist})
    check("agg_velocidade", dvel is not None and dvel <= 1e-4, {"max_diff": dvel})

    con.execute(f"""CREATE TEMP TABLE oracle_acess AS {hops}
      SELECT data_evt AS data, intervalo, letreiro, codigo_linha, sentido_linha,
        origem_linha, destino_linha, prefixo_veiculo, acessibilidade,
        avg(px) AS px, avg(py) AS py
      FROM clean GROUP BY ALL""")
    con.execute("CREATE TEMP TABLE eng_acess AS "
                + csv(f"acessiveis/{month}/acessiveis-{day}.csv", _ACESS_TYPES))
    n_eng, n_ora = con.execute("SELECT (SELECT count(*) FROM eng_acess), "
                               "(SELECT count(*) FROM oracle_acess)").fetchone()
    check("acess_rows", n_eng == n_ora, {"engine": n_eng, "oracle": n_ora})
    acc_join = join_on + " AND e.acessibilidade IS NOT DISTINCT FROM o.acessibilidade"
    miss, extra, dpx, dpy = con.execute(f"""
      SELECT count(*) FILTER (WHERE e.prefixo_veiculo IS NULL),
        count(*) FILTER (WHERE o.prefixo_veiculo IS NULL),
        max(abs(e.px - o.px)), max(abs(e.py - o.py))
      FROM eng_acess e FULL OUTER JOIN oracle_acess o ON {acc_join}""").fetchone()
    check("acess_groups", miss == 0 and extra == 0, {"missing": miss, "extra": extra})
    check("acess_px", dpx is not None and dpx <= 1e-9, {"max_diff": dpx})
    check("acess_py", dpy is not None and dpy <= 1e-9, {"max_diff": dpy})
    nulls = con.execute(
        "SELECT count(*) FROM eng_acess WHERE acessibilidade IS NULL").fetchone()[0]
    check("acess_null_groups_kept", nulls > 0, {"null_key_rows": nulls})

    con.execute(f"""CREATE TEMP TABLE oracle_slow AS {hops}
      SELECT prefixo_veiculo, tempo, distancia FROM clean WHERE velocidade_media < 1.4""")
    con.execute("CREATE TEMP TABLE eng_slow AS SELECT prefixo_veiculo, tempo, distancia FROM ("
                + csv(f"lentidao/{month}/lentidao-{day}.csv", _SPEED_TYPES) + ")")
    n_eng, n_ora = con.execute("SELECT (SELECT count(*) FROM eng_slow), "
                               "(SELECT count(*) FROM oracle_slow)").fetchone()
    check("slow_rows", n_eng == n_ora and n_eng > 0, {"engine": n_eng, "oracle": n_ora})
    bad = con.execute("""
      SELECT count(*) FROM
        (SELECT prefixo_veiculo, count(*) AS c, sum(tempo) AS t FROM eng_slow GROUP BY 1) e
        FULL OUTER JOIN
        (SELECT prefixo_veiculo, count(*) AS c, sum(tempo) AS t FROM oracle_slow GROUP BY 1) o
        USING (prefixo_veiculo)
      WHERE e.c IS DISTINCT FROM o.c OR e.t IS DISTINCT FROM o.t""").fetchone()[0]
    check("slow_per_vehicle", bad == 0, {"mismatched_vehicles": bad})
    ddist = con.execute("""
      SELECT abs(coalesce((SELECT sum(distancia) FROM eng_slow), 0)
               - coalesce((SELECT sum(distancia) FROM oracle_slow), 0))""").fetchone()[0]
    check("slow_distancia_sum", ddist <= 0.5, {"abs_diff": ddist})
    return failures
