"""Output checks: each workload's final state against DuckDB computations
made independently over the generated inputs.

Spark results are read back through the program's public read calls and
handed to DuckDB as Arrow tables; parquet results the program wrote are read
by DuckDB directly. Each check returns ``(name, ok, detail)``.
"""

from __future__ import annotations

import os

import duckdb

import gen
from workloads import STREAM_DAY, load_day, stream_change_day

REC = (
    f"{gen.ORDER_KEY}, o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
    "o_orderpriority, o_comment"
)
K = gen.ORDER_KEY
UPPER = "DATE '9999-12-31'"


def _empty(con, sql: str) -> tuple[bool, str]:
    n = con.sql(f"SELECT count(*) FROM ({sql})").fetchone()[0]
    return n == 0, f"{n} offending rows"


def _same_rows(con, a: str, b: str) -> tuple[bool, str]:
    """Multiset equality of two relations with the same columns."""
    x = con.sql(f"SELECT count(*) FROM (({a}) EXCEPT ALL ({b}))").fetchone()[0]
    y = con.sql(f"SELECT count(*) FROM (({b}) EXCEPT ALL ({a}))").fetchone()[0]
    return x == 0 and y == 0, f"{x} unexpected, {y} missing"


def _appearances(con, name: str, files: list[str], days: list[str]) -> None:
    """View ``name``: every input row with its load index and run day."""
    parts = [
        f"SELECT {i} AS idx, DATE '{d}' AS day, {REC} FROM read_parquet('{f}')"
        for i, (f, d) in enumerate(zip(files, days))
    ]
    con.sql(f"CREATE OR REPLACE VIEW {name} AS " + " UNION ALL ".join(parts))


def _scd2_checks(con, tag: str, src: str, act: str) -> list[tuple[str, bool, str]]:
    """SCD2 store ``act`` against the load sequence ``src``: a new version
    starts where a key first appears or its record changes; keys missing
    from a later load stay open."""
    con.sql(f"""
        CREATE OR REPLACE TEMP TABLE {tag}_exp AS
        WITH sig AS (
            SELECT *, md5(concat_ws('|', {REC})) AS s,
                   lag(md5(concat_ws('|', {REC}))) OVER (
                       PARTITION BY {K} ORDER BY idx) AS prev
            FROM {src}
        ),
        v AS (SELECT * FROM sig WHERE prev IS NULL OR prev <> s)
        SELECT {REC}, day AS VALID_FROM,
               coalesce(CAST(lead(day) OVER (PARTITION BY {K} ORDER BY idx)
                             - INTERVAL 1 DAY AS DATE), {UPPER}) AS VALID_TO
        FROM v""")
    out = []
    ok, d = _empty(con, f"""
        SELECT {K} FROM {act} GROUP BY {K}
        HAVING count(*) FILTER (WHERE VALID_TO = {UPPER}) <> 1""")
    n_keys = con.sql(f"SELECT count(DISTINCT {K}) FROM {act}").fetchone()[0]
    n_live = con.sql(f"SELECT count(DISTINCT {K}) FROM {src}").fetchone()[0]
    out.append((f"{tag}.one_open_row_per_key", ok and n_keys == n_live,
                f"{d}; {n_keys} keys stored, {n_live} expected"))
    out.append((f"{tag}.contiguous_intervals", *_empty(con, f"""
        SELECT * FROM (
            SELECT VALID_TO, lead(VALID_FROM) OVER (
                       PARTITION BY {K} ORDER BY VALID_FROM, VALID_TO) AS nxt
            FROM {act})
        WHERE (nxt IS NULL AND VALID_TO <> {UPPER})
           OR (nxt IS NOT NULL AND CAST(VALID_TO + INTERVAL 1 DAY AS DATE) <> nxt)""")))
    out.append((f"{tag}.version_count", *_same_rows(
        con,
        f"SELECT {K}, count(*) FROM {tag}_exp GROUP BY {K}",
        f"SELECT {K}, count(*) FROM {act} GROUP BY {K}",
    )))
    out.append((f"{tag}.rows", *_same_rows(
        con,
        f"SELECT {REC}, VALID_FROM, VALID_TO FROM {tag}_exp",
        f"SELECT {REC}, VALID_FROM, VALID_TO FROM {act}",
    )))
    return out


def _last_writer(src: str, max_idx: int) -> str:
    return f"""
        SELECT {REC} FROM (
            SELECT *, row_number() OVER (PARTITION BY {K} ORDER BY idx DESC) AS rn
            FROM {src} WHERE idx <= {max_idx})
        WHERE rn = 1"""


def history_stream(ctx) -> list[tuple[str, bool, str]]:
    import pandas_etl_framework_spark as etl
    from pandas_etl_framework_spark.scd2 import snapshot_at

    spark, cyc = ctx.spark, ctx.state["cycle_dir"]
    con = duckdb.connect()
    h, s = ctx.inputs["history"], ctx.inputs["stream"]
    loads = h.files["loads"]
    _appearances(con, "loads", loads, [load_day(i) for i in range(len(loads))])
    stream_files = s.files["bootstrap"] + s.files["changes"]
    _appearances(con, "stream_src", stream_files,
                 [str(STREAM_DAY)] + [stream_change_day()] * len(s.files["changes"]))

    scd2 = etl.Scd2Store(spark, os.path.join(cyc, "scd2"))
    vs = etl.VersionedStore(spark, os.path.join(cyc, "vs"))
    as_of, past = ctx.state["last_reads"]
    tables = {
        "scd2_act": scd2.read(),
        "cdc_act": etl.read_store(spark, os.path.join(cyc, "cdc")),
        "vs_act": vs.read(),
        "stream_act": etl.Scd2Store(spark, os.path.join(cyc, "stream")).read(),
        "pit_act": snapshot_at(scd2.read(), as_of),
        "vsread_act": vs.read(past),
    }
    for name, df in tables.items():
        con.register(name, df.toArrow())

    out = _scd2_checks(con, "scd2", "loads", "scd2_act")
    out += _scd2_checks(con, "stream", "stream_src", "stream_act")
    out.append(("cdc.pairs_distinct", *_empty(con, """
        SELECT KEY_HASH, RECORD_HASH FROM cdc_act
        GROUP BY ALL HAVING count(*) > 1""")))
    out.append(("cdc.key_hash", *_empty(con, f"""
        SELECT * FROM cdc_act WHERE KEY_HASH <> md5(CAST({K} AS VARCHAR))""")))
    out.append(("cdc.rows", *_same_rows(
        con, f"SELECT DISTINCT {REC} FROM loads", f"SELECT {REC} FROM cdc_act")))
    out.append(("upsert.last_writer", *_same_rows(
        con, _last_writer("loads", len(loads) - 1), f"SELECT {REC} FROM vs_act")))
    out.append(("upsert.read_version", *_same_rows(
        con, _last_writer("loads", past), f"SELECT {REC} FROM vsread_act")))
    as_of_idx = [load_day(i) for i in range(len(loads))].index(as_of)
    out.append(("scd2.snapshot_at", *_same_rows(
        con, _last_writer("loads", as_of_idx), f"SELECT {REC} FROM pit_act")))
    con.close()
    return out


def _union_find_components(nodes: list[int], edges: list[tuple[int, int]]) -> dict:
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def curation_graph(ctx) -> list[tuple[str, bool, str]]:
    from pandas_etl_framework_spark.graph import SQL_GRAPH_LABEL_PROPAGATION
    from pandas_etl_framework_spark.llmops.dedup import SQL_DEDUP_MINHASH_BANDS
    from pandas_etl_framework_spark.llmops.text import SQL_TEXT_QUALITY_CALIBRATED

    con = duckdb.connect()
    out_dir = os.path.join(ctx.work, "out")
    docs = ctx.inputs["corpus"].files["documents"][0]
    con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
    con.sql(f"CREATE TABLE kept AS SELECT doc_id FROM ({SQL_TEXT_QUALITY_CALIBRATED}) "
            "WHERE kept")
    con.sql(f"CREATE VIEW keepers AS SELECT * FROM "
            f"read_parquet('{out_dir}/keepers/*.parquet')")
    res = []
    res.append(("neardup.one_row_per_kept_doc", *_same_rows(
        con, "SELECT doc_id FROM kept", "SELECT doc_id FROM keepers")))
    res.append(("neardup.keeper_is_self_kept", *_empty(con, """
        SELECT * FROM keepers k
        WHERE is_keeper <> (doc_id = keeper_doc_id)
           OR keeper_doc_id NOT IN (SELECT doc_id FROM keepers WHERE is_keeper)""")))

    # star edges over the oracle's bands of the kept documents, closed with
    # a union-find here
    con.sql("CREATE OR REPLACE VIEW documents AS SELECT d.* FROM "
            f"read_parquet('{docs}') d SEMI JOIN kept USING (doc_id)")
    con.sql(f"CREATE TABLE bands AS {SQL_DEDUP_MINHASH_BANDS}")
    edges = con.sql("""
        SELECT h.hub, b.doc_id FROM bands b JOIN (
            SELECT band, band_key, min(doc_id) AS hub FROM bands GROUP BY ALL) h
        USING (band, band_key) WHERE b.doc_id <> h.hub""").fetchall()
    nodes = [r[0] for r in con.sql("SELECT doc_id FROM kept").fetchall()]
    comp = _union_find_components(nodes, edges)
    con.sql("CREATE TABLE comp (doc_id BIGINT, component BIGINT)")
    con.executemany("INSERT INTO comp VALUES (?, ?)", list(comp.items()))
    n_comp = len(set(comp.values()))
    n_keep = con.sql("SELECT count(*) FROM keepers WHERE is_keeper").fetchone()[0]
    res.append(("neardup.keeper_count", n_keep == n_comp,
                f"{n_keep} keepers, {n_comp} union-find components"))
    res.append(("neardup.keeper_choice", *_same_rows(con, """
        WITH p AS (
            SELECT c.doc_id, c.component,
                   coalesce(TRY_CAST(substr(d.source, 4) AS INT), 2147483647) AS prio
            FROM comp c JOIN documents d USING (doc_id))
        SELECT p.doc_id, w.keeper FROM p JOIN (
            SELECT component, doc_id AS keeper FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY component ORDER BY prio, doc_id) AS rn
                FROM p)
            WHERE rn = 1) w USING (component)""",
        "SELECT doc_id, keeper_doc_id FROM keepers")))

    li = ctx.inputs["lineitem"].files["lineitem"][0]
    con.sql(f"CREATE VIEW lineitem AS SELECT * FROM read_csv('{li}', header = true)")
    res.append(("lpa.labels", *_same_rows(
        con, SQL_GRAPH_LABEL_PROPAGATION,
        f"SELECT node, label FROM read_parquet('{out_dir}/labels/*.parquet')")))
    con.close()
    return res
