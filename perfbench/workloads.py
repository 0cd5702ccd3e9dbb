"""The benchmark's workloads: what each cycle calls, what it records.

A workload is generated once per set-up, bootstrapped in set-up, then run
as identical cycles until the measuring time is used up. Each workload has
three input sizes: ``full`` is measured, ``warm`` is the untimed warm-up
cycle (real data volumes, fewer loads), ``tiny`` is the self-test. A cycle starts
from a copy of the bootstrapped state, so every cycle does the same work
whatever the speed of the program. Every public call the user makes is
one op; each op is timed, and in a traced cycle wrapped in a span.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import gen
from spans import Tracer, summarize_jobs

KEY = [gen.ORDER_KEY]
DAY0 = np.datetime64("2024-01-01")
STREAM_DAY = np.datetime64("2023-06-01")


def load_day(i: int) -> str:
    return str(DAY0 + np.timedelta64(i, "D"))


def stream_change_day() -> str:
    """Run day of every micro-batch. Pinning one run context per stream run
    keeps the store deterministic; no key is in two change files, so no key
    changes twice on that day."""
    return str(STREAM_DAY + np.timedelta64(1, "D"))


def noop(df) -> None:
    """Run a DataFrame to completion without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def files_under(path: str) -> dict[str, int]:
    """Every regular file under ``path`` with its size."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            out[full] = os.path.getsize(full)
    return out


def parquet_rows(paths) -> int:
    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)


def _data_files(files: dict[str, int]) -> list[str]:
    return [p for p in files if p.endswith(".parquet")]


@dataclass
class Op:
    kind: str
    wall_s: float
    rows: int
    traced: bool
    cycle: int


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    work: str
    inputs: dict
    ops: list[Op] = field(default_factory=list)
    cycle: int = 0
    state: dict = field(default_factory=dict)

    @contextmanager
    def op(self, kind: str, rows: int = 0):
        t = time.perf_counter()
        yield
        self.ops.append(
            Op(kind, time.perf_counter() - t, rows, self.tracer.enabled, self.cycle)
        )


# -- history loads + streaming ingest ---------------------------------------

class HistoryStream:
    """Full-snapshot loads of an orders-shaped table into the three sinks,
    each followed by two point-in-time reads, then change files streamed
    into an SCD2 store one file per micro-batch."""

    name = "history_stream"
    kinds = ("scd2_merge", "cdc_append", "upsert_merge", "pit_read", "microbatch")
    sizes = {
        "full": {"n_keys": 20_000, "loads_per_cycle": 3, "stream_keys": 10_000,
                 "stream_files": 3, "file_rows": 2_000},
        "warm": {"n_keys": 20_000, "loads_per_cycle": 1, "stream_keys": 10_000,
                 "stream_files": 1, "file_rows": 2_000},
        "tiny": {"n_keys": 400, "loads_per_cycle": 2, "stream_keys": 400,
                 "stream_files": 2, "file_rows": 50},
    }

    def generate(self, root: str, seed: int, size: str) -> dict:
        s = self.sizes[size]
        return {
            "history": gen.history_loads(
                os.path.join(root, "history"), seed, s["n_keys"],
                1 + s["loads_per_cycle"],
            ),
            "stream": gen.stream(
                os.path.join(root, "stream"), seed, s["stream_keys"],
                s["stream_files"], s["file_rows"],
            ),
        }

    # set-up: bootstrap load 0 into the three sinks and the stream's base
    # snapshot into its SCD2 store, at the paths the cycles use (the
    # VersionedStore manifest records its data directories by path), then
    # keep a copy; every cycle starts from that copy
    def bootstrap(self, ctx: Ctx) -> None:
        import pandas_etl_framework_spark as etl

        spark = ctx.spark
        cyc, boot = self._dirs(ctx)
        for d in (cyc, boot):
            shutil.rmtree(d, ignore_errors=True)
        load0 = spark.read.parquet(ctx.inputs["history"].files["loads"][0])
        cur0 = etl.create_currents(f"{load_day(0)} 00:00:00")
        etl.Scd2Store(spark, os.path.join(cyc, "scd2")).merge(
            etl.add_meta_columns(load0, cur0, KEY), currents=cur0
        )
        etl.historize_append(spark, load0, os.path.join(cyc, "cdc"), KEY,
                             currents=cur0)
        etl.VersionedStore(spark, os.path.join(cyc, "vs")).merge(load0, KEY)
        s_in = ctx.inputs["stream"]
        base = spark.read.parquet(s_in.files["bootstrap"][0])
        cur_s = etl.create_currents(f"{STREAM_DAY} 00:00:00")
        etl.Scd2Store(spark, os.path.join(cyc, "stream")).merge(
            etl.add_meta_columns(base, cur_s, KEY), currents=cur_s
        )
        shutil.copytree(cyc, boot)
        ctx.state["stream_schema"] = base.schema

    @staticmethod
    def _dirs(ctx: Ctx) -> tuple[str, str]:
        return os.path.join(ctx.work, "cycle"), os.path.join(ctx.work, "boot")

    def _reset(self, ctx: Ctx) -> str:
        cyc, boot = self._dirs(ctx)
        shutil.rmtree(cyc, ignore_errors=True)
        shutil.copytree(boot, cyc)
        return cyc

    def cycle(self, ctx: Ctx, rng: np.random.Generator) -> None:
        import pandas_etl_framework_spark as etl
        from pandas_etl_framework_spark.scd2 import snapshot_at

        spark, tr = ctx.spark, ctx.tracer
        cyc = self._reset(ctx)
        scd2 = etl.Scd2Store(spark, os.path.join(cyc, "scd2"))
        vs = etl.VersionedStore(spark, os.path.join(cyc, "vs"))
        h_in = ctx.inputs["history"]
        for i in range(1, len(h_in.files["loads"])):
            oid = f"c{ctx.cycle}.load{i}"
            path, rows = h_in.files["loads"][i], h_in.rows["loads"][i]
            batch_bytes = os.path.getsize(path)
            cur = etl.create_currents(f"{load_day(i)} 00:00:00")
            df = spark.read.parquet(path)

            with ctx.op("scd2_merge", rows):
                with tr.span("meta_columns.add_meta_columns", oid):
                    stamped = etl.add_meta_columns(df, cur, KEY)
                    if tr.enabled:
                        noop(stamped)
                before = files_under(scd2.path) if tr.enabled else None
                with tr.span("scd2_store.merge", oid) as rec:
                    scd2.merge(stamped, currents=cur)
            if tr.enabled:
                self._scd2_counts(rec, before, files_under(scd2.path), batch_bytes)

            cdc_path = os.path.join(cyc, "cdc")
            before = files_under(cdc_path) if tr.enabled else None
            with ctx.op("cdc_append", rows):
                with tr.span("cdc.historize_append", oid) as rec:
                    etl.historize_append(spark, df, cdc_path, KEY, currents=cur)
            if tr.enabled:
                new = [p for p in _data_files(files_under(cdc_path)) if p not in before]
                rec["delta_ratio"] = parquet_rows(new) / rows

            prev = vs.latest_version()
            with ctx.op("upsert_merge", rows):
                with tr.span("versioned_store.merge", oid) as rec:
                    version = vs.merge(df, KEY)
            if tr.enabled:
                old_dirs = set(self._manifest(vs, prev)["data_dirs"])
                new_dirs = self._manifest(vs, version)["data_dirs"]
                rec["dirs_rewritten"] = len(old_dirs - set(new_dirs))
                rec["manifest_dirs"] = len(new_dirs)

            # the point-in-time read pair: the SCD2 store as of a past day
            # and a past version of the upsert store
            as_of = load_day(int(rng.integers(0, i + 1)))
            past = int(rng.integers(0, version + 1))
            with ctx.op("pit_read"):
                with tr.span("scd2.snapshot_at", oid) as rec:
                    noop(snapshot_at(scd2.read(), as_of))
                with tr.span("versioned_store.read", oid):
                    noop(vs.read(past))
            if tr.enabled:
                rec["files_read"] = len(_data_files(files_under(scd2.path)))
            ctx.state["last_reads"] = (as_of, past)

        self._stream(ctx, cyc)
        ctx.state["cycle_dir"] = cyc

    @staticmethod
    def _manifest(vs, version: int) -> dict:
        with open(os.path.join(vs.path, "_manifest", f"v{version:010d}.json")) as fh:
            return json.load(fh)

    @staticmethod
    def _scd2_counts(rec: dict, before: dict, after: dict, batch_bytes: int) -> None:
        new = {p: s for p, s in after.items() if p not in before}
        new_data = _data_files(new)
        open_now = [p for p in _data_files(after) if "/state=open/" in p]
        rec["open_rows_rewritten"] = parquet_rows(open_now)
        rec["closed_rows_appended"] = parquet_rows(
            p for p in new_data if "/state=closed/" in p
        )
        rec["files_written"] = len(new_data)
        rec["write_amp"] = sum(new.values()) / batch_bytes

    def _stream(self, ctx: Ctx, cyc: str) -> None:
        import pandas_etl_framework_spark as etl
        from pandas_etl_framework_spark.streaming import streaming_scd2_merge

        spark, tr = ctx.spark, ctx.tracer
        s_in = ctx.inputs["stream"]
        src = (
            spark.readStream.schema(ctx.state["stream_schema"])
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.dirname(s_in.files["changes"][0]))
        )
        rows = sum(s_in.rows["changes"])
        with ctx.op("stream_run", rows):
            q = streaming_scd2_merge(
                spark, src, os.path.join(cyc, "stream"),
                os.path.join(cyc, "stream_ckpt"), KEY, trigger_once=True,
                currents=etl.create_currents(f"{stream_change_day()} 00:00:00"),
            )
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"stream query failed: {q.exception()}")
        batches = [p for p in q.recentProgress if p.numInputRows > 0]
        for p in batches:
            ctx.ops.append(Op("microbatch", p.durationMs["triggerExecution"] / 1e3,
                              int(p.numInputRows), tr.enabled, ctx.cycle))
        if tr.enabled:
            self._stream_spans(ctx, q, batches)

    @staticmethod
    def _stream_spans(ctx: Ctx, q, batches) -> None:
        import datetime

        reader = ctx.tracer.reader
        jobs = reader.jobs(reader.job_ids(str(q.runId)))
        for p in batches:
            t0 = datetime.datetime.fromisoformat(
                p.timestamp.replace("Z", "+00:00")
            ).timestamp()
            wall = p.durationMs["triggerExecution"] / 1e3
            mine = [j for j in jobs if f"batch = {p.batchId}" in j["description"]]
            rec = {
                "name": "streaming.microbatch",
                "op_id": f"c{ctx.cycle}.batch{p.batchId}",
                "wall_s": wall,
                "start": t0,
                "microbatches": len(batches),
                "add_batch_s": p.durationMs.get("addBatch", 0) / 1e3,
                "commit_overhead_s": (p.durationMs["triggerExecution"]
                                      - p.durationMs.get("addBatch", 0)) / 1e3,
            }
            rec.update(summarize_jobs(mine, t0, t0 + wall))
            ctx.tracer.add(rec)

    # -- results ----------------------------------------------------------

    def stored_bytes(self, ctx: Ctx) -> tuple[int, int]:
        """(bytes the cycle's four stores occupy, bytes of the inputs they
        hold)."""
        cyc = ctx.state["cycle_dir"]
        stored = sum(
            sum(files_under(os.path.join(cyc, n)).values())
            for n in ("scd2", "cdc", "vs", "stream")
        )
        h, s = ctx.inputs["history"], ctx.inputs["stream"]
        user = sum(h.nbytes("loads")) + sum(s.nbytes("bootstrap")) + sum(s.nbytes("changes"))
        return stored, user

    def check(self, ctx: Ctx) -> list[tuple[str, bool, str]]:
        import checks

        return checks.history_stream(ctx)


# -- near-dup curation + supplier graph -------------------------------------

def source_priority():
    """Curation priority: the numeric suffix of ``srcN`` (src0 best),
    unknown sources last."""
    from pyspark.sql import functions as F

    return F.coalesce(
        F.expr("try_cast(substring(source, 4) as int)"), F.lit(2147483647)
    )


class CurationGraph:
    """A near-dup curation pass (quality calibration, MinHash bands, star
    edges, priority keepers) and a supplier co-supply graph pass (backbone,
    label propagation), each writing its result as parquet."""

    name = "curation_graph"
    kinds = ("curation_pass", "graph_pass")
    sizes = {
        "full": {"n_docs": 3_000, "lines": 60_000},
        "warm": {"n_docs": 3_000, "lines": 60_000},
        "tiny": {"n_docs": 150, "lines": 6_000},
    }

    def generate(self, root: str, seed: int, size: str) -> dict:
        s = self.sizes[size]
        return {
            "corpus": gen.corpus(os.path.join(root, "corpus"), seed, s["n_docs"]),
            "lineitem": gen.lineitem(os.path.join(root, "lineitem"), seed, s["lines"]),
        }

    # set-up: ingest the lineitem CSV into parquet through the program's io
    # layer, as a user loads a TPC-H extract before analysing it
    def bootstrap(self, ctx: Ctx) -> None:
        from pyspark.sql import types as T

        from pandas_etl_framework_spark.io import read_csv, write_table

        schema = T.StructType(
            [T.StructField(c, T.LongType()) for c in
             ("l_orderkey", "l_partkey", "l_suppkey")]
            + [T.StructField("l_quantity", T.DoubleType())]
        )
        sf_dir = os.path.join(ctx.work, "sf")
        csv = ctx.inputs["lineitem"].files["lineitem"][0]
        write_table(read_csv(ctx.spark, csv, schema),
                    os.path.join(sf_dir, "lineitem.parquet"), mode="overwrite")
        ctx.state["sf_dir"] = sf_dir

    def cycle(self, ctx: Ctx, rng: np.random.Generator) -> None:
        from pyspark.sql import functions as F

        from pandas_etl_framework_spark.graph import cosupply_backbone, label_propagation
        from pandas_etl_framework_spark.llmops.dedup import (
            dedup_keeper_by_priority,
            minhash_band_star_edges,
            minhash_bands,
        )
        from pandas_etl_framework_spark.llmops.text import quality_calibrated

        spark, tr = ctx.spark, ctx.tracer
        out = os.path.join(ctx.work, "out")
        corpus = ctx.inputs["corpus"]
        oid = f"c{ctx.cycle}.curation"
        with ctx.op("curation_pass", sum(corpus.rows["documents"])):
            docs = spark.read.parquet(corpus.files["documents"][0])
            with tr.span("text.quality_calibrated", oid):
                q = quality_calibrated(docs)
                if tr.enabled:
                    noop(q)
            kept = docs.join(q.filter("kept").select("doc_id"), "doc_id", "left_semi")
            with tr.span("dedup.minhash_bands", oid):
                bands = minhash_bands(kept)
                if tr.enabled:
                    noop(bands)
            with tr.span("dedup.minhash_band_star_edges", oid):
                edges = minhash_band_star_edges(bands)
                if tr.enabled:
                    noop(edges)
            with tr.span("dedup.dedup_keeper_by_priority", oid) as rec:
                keep = dedup_keeper_by_priority(kept, edges, source_priority())
                # the curated corpus: every document that passed the quality
                # filter, with its keeper assignment and its text
                (keep.join(kept, "doc_id").write.mode("overwrite")
                 .parquet(os.path.join(out, "keepers")))
        if tr.enabled:
            written = spark.read.parquet(os.path.join(out, "keepers"))
            n_keep = written.filter("is_keeper").count()
            rec["band_rows"] = bands.count()
            rec["star_edges"] = edges.count()
            rec["components"] = n_keep
            rec["keeper_ratio"] = n_keep / max(written.count(), 1)

        li = ctx.inputs["lineitem"]
        oid = f"c{ctx.cycle}.graph"
        with ctx.op("graph_pass", sum(li.rows["lineitem"])):
            with tr.span("graph.cosupply_backbone", oid) as brec:
                edges = cosupply_backbone(spark, ctx.state["sf_dir"])
                if tr.enabled:
                    noop(edges)
            with tr.span("graph.label_propagation", oid) as rec:
                labels = label_propagation(edges, rounds=2)
                labels.write.mode("overwrite").parquet(os.path.join(out, "labels"))
        if tr.enabled:
            brec["backbone_edges"] = edges.count()
            rec["communities"] = (
                spark.read.parquet(os.path.join(out, "labels"))
                .agg(F.countDistinct("label")).first()[0]
            )

    def stored_bytes(self, ctx: Ctx) -> tuple[int, int]:
        stored = sum(files_under(os.path.join(ctx.work, "out")).values())
        user = sum(ctx.inputs["corpus"].nbytes("documents")) + sum(
            ctx.inputs["lineitem"].nbytes("lineitem")
        )
        return stored, user

    def check(self, ctx: Ctx) -> list[tuple[str, bool, str]]:
        import checks

        return checks.curation_graph(ctx)


WORKLOADS = {w.name: w for w in (HistoryStream(), CurationGraph())}
