"""The benchmark's workloads: each is a fixed list of calls into the
program's public functions, grouped in stages, that one client runs in
a closed loop. Every call is of one kind: ``job`` (a query collected to
the driver), ``commit`` (a write that lands files) or ``read`` (a
read-after-write of what a commit landed). Each call names the source
tables it consumes and carries a check that runs after the timed
window.
"""

from __future__ import annotations

import os
import shutil
from collections import Counter
from dataclasses import dataclass, field
from typing import Any, Callable

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from project_clinical_data_etl_pipeline_spark.plans import txlog
from project_clinical_data_etl_pipeline_spark.queries import REGISTRY, clinical, llmdata
from project_clinical_data_etl_pipeline_spark.sources import readers, writers
from project_clinical_data_etl_pipeline_spark.streaming import incremental

import checks
import sparkstats

UPSERT_TARGET = "upsert_target"
SIDECARS = ("_hll", "_cms", "_bloom")


@dataclass
class Call:
    name: str
    stage: str
    kind: str  # "job" | "commit" | "read"
    layer: str  # layer whose public function the call times
    tables: tuple[str, ...]  # source tables ("batchN": ingest day N)
    run: Callable[["Ctx"], Any]
    check: Callable[["Ctx", Any], list[str]]
    out: str | None = None  # output directory a commit lands files in
    warm: bool = True  # also runs in set-up's untimed pass


@dataclass
class Workload:
    name: str
    sf: float  # relational tables and events
    doc_sf: float  # documents and embeddings
    calls: list[Call]
    ingest_days: int = 0  # days of ingest batches generated
    ingest_base: int = 0  # days already upserted into the target at set-up


@dataclass
class Ctx:
    """Run state handed to every call: the session, the generated
    inputs, the per-pass output directory, the upsert target built at
    set-up and, in a traced run, the tracer and the per-pass counters."""

    spark: Any
    data: str
    manifest: dict
    out: str
    tracer: Any
    base: str | None = None
    counts: Counter = field(default_factory=Counter)
    landed_bytes: int = 0
    group: int = 0
    _duck: Any = None

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    @property
    def duck(self):
        if self._duck is None:
            self._duck = checks.duck(self.data)
        return self._duck

    def rows(self, names: tuple[str, ...]) -> int:
        return sum(self.manifest["rows"][t] for t in names)

    def input_bytes(self, names: tuple[str, ...]) -> int:
        return sum(os.path.getsize(self.source(t)) for t in names)

    def source(self, name: str) -> str:
        if name.startswith("batch"):
            return self.manifest["batches"][int(name[len("batch"):])]
        return os.path.join(self.data, f"{name}.parquet")

    def path(self, name: str) -> str:
        return os.path.join(self.out, name)

    def collect(self, build: Callable[[], Any], layer: str):
        """Build a DataFrame and collect it as Arrow. In a traced run
        the driver side (build, then planning up to ``executedPlan``)
        and the action are separate spans, and the plan's SQL metrics
        and the job group's counts are added to ``counts``."""
        gid = None
        if self.traced:
            self.group += 1
            gid = f"perfbench-{self.group}"
            self.spark.sparkContext.setJobGroup(gid, gid)
        with self.tracer.span("build", "queries.driver"):
            df = build()
        if self.traced:
            with self.tracer.span("plan", "queries.driver"):
                df._jdf.queryExecution().executedPlan()
        with self.tracer.span("exec", "queries.exec"):
            tbl = df.toArrow()
        if self.traced:
            with self.tracer.span("counters", "trace"):
                pm = sparkstats.plan_metrics(df)
                self.counts.update(pm)
                self.counts[f"join_rows:{layer}"] += pm["join_rows"]
                self.counts["rows_out"] += tbl.num_rows
                self.counts.update(sparkstats.job_group_stats(self.spark.sparkContext, gid))
        return tbl


def _files(root: str) -> dict[str, int]:
    """Relative path -> size of every regular file under ``root``."""
    out = {}
    for r, _, files in os.walk(root):
        for f in files:
            p = os.path.join(r, f)
            out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


def _is_data(rel: str) -> bool:
    name = os.path.basename(rel)
    return name.startswith("part-") and not name.endswith(".crc")


# --- call builders ------------------------------------------------------------


def query(name: str, stage: str, layer: str, names: tuple[str, ...],
          sample: str | None = None) -> Call:
    """A registry query, checked against its DuckDB twin (on the rows
    whose ``sample`` column is divisible by 8, where the twin is slow)."""
    spec = REGISTRY[name]
    return Call(name, stage, "job", layer, names,
                run=lambda ctx: ctx.collect(lambda: spec.run(ctx.spark, ctx.data), layer),
                check=lambda ctx, tbl: checks.oracle(ctx, spec.sql, tbl, sample))


def direct(name: str, stage: str, layer: str, names: tuple[str, ...], check) -> Call:
    """A query function without a SQL twin, checked by its invariants."""
    fn = getattr(llmdata, name)
    return Call(name, stage, "job", layer, names,
                run=lambda ctx: ctx.collect(lambda: fn(ctx.spark, ctx.data), layer),
                check=check)


def export(name: str, stage: str, names: tuple[str, ...], build, write,
           kind: str = "commit") -> Call:
    """A bulk write through ``sources.writers``; returns the files landed.
    As a ``job`` its bytes count toward the writer metrics only, not
    toward the commits' write amplification."""

    def run(ctx: Ctx) -> int:
        path = ctx.path(name)
        with ctx.tracer.span("build", "queries.driver"):
            df = build(ctx)
        with ctx.tracer.span("write", "writers"):
            write(df, path)
        landed = _files(path)
        if kind == "commit":
            ctx.landed_bytes += sum(landed.values())
        n = sum(1 for f in landed if _is_data(f))
        if ctx.traced:
            ctx.counts["writers.bytes_written"] += sum(landed.values())
            ctx.counts["writers.files_written"] += n
        return n

    return Call(name, stage, kind, "writers", names, run,
                check=lambda ctx, n: [] if n else [f"{name}: no data files landed"],
                out=name)


def read_back(name: str, stage: str, source: str, read, check) -> Call:
    """A read through ``sources.readers`` of what ``source`` landed:
    its row count. A job, not a read-after-write sample."""

    def run(ctx: Ctx) -> int:
        tbl = ctx.collect(lambda: read(ctx, ctx.path(source)).agg(
            F.count(F.lit(1)).alias("n")), "readers")
        return tbl.column("n")[0].as_py()

    return Call(name, stage, "job", "readers", (), run, check)


def read_shards(i: int) -> Call:
    """Read-after-write of the training shards as a data loader reads
    them: every row and column, collected as Arrow. A pass reads them
    ``SHARD_READS`` times, so that a run has several read samples;
    set-up's untimed pass reads them once."""

    def run(ctx: Ctx):
        return ctx.collect(lambda: readers.read_table(
            ctx.spark, ctx.path("curated_shards")), "readers")

    return Call(f"read_shards{i}", "load", "read", "readers", (), run,
                check=lambda ctx, tbl: checks.shards(
                    ctx, REGISTRY["corpus_curation_pipeline"].sql, tbl),
                warm=i == 0)


def upsert(day: int) -> Call:
    """Upsert one day's hourly aggregates into the day-partitioned
    target, with the event-type sketch sidecar kept in the same commit."""

    def run(ctx: Ctx) -> int:
        target = ctx.path(UPSERT_TARGET)
        before = _files(target)
        with ctx.tracer.span("read_batch", "readers"):
            batch = readers.read_table(ctx.spark, ctx.source(f"batch{day}"))
        with ctx.tracer.span("upsert", "upsert"):
            incremental.upsert_partitioned(batch, target, sketch_col="event_type")
        after = _files(target)
        added = after.keys() - before.keys()
        ctx.landed_bytes += sum(after[f] for f in added)
        if ctx.traced:
            with ctx.tracer.span("counters", "trace"):
                data = [f for f in added if _is_data(f) and not f.startswith(SIDECARS)]
                c = ctx.counts
                c["upsert.partitions_touched"] += len({f.split("/")[0] for f in data})
                c["upsert.rows_rewritten"] += sum(
                    pq.ParquetFile(os.path.join(target, f)).metadata.num_rows for f in data)
                c["upsert.batch_rows"] += ctx.manifest["rows"][f"batch{day}"]
                c["txlog.vacuumed_files"] += len(before.keys() - after.keys())
        return len(added)

    return Call(f"upsert_day{day}", "ingest", "commit", "upsert", (f"batch{day}",), run,
                check=lambda ctx, n: [] if n else [f"day {day}: nothing landed"],
                out=UPSERT_TARGET, warm=day == INGEST_BASE)


def read_after_write(day: int) -> Call:
    """Read-after-write of the target: windows and events per type from
    ``read_upsert_target``, then registers per day from
    ``read_upsert_sketch``. One sample is both reads."""

    def run(ctx: Ctx):
        target = ctx.path(UPSERT_TARGET)
        windows = ctx.collect(lambda: incremental.read_upsert_target(
            ctx.spark, target).groupBy("event_type").agg(
            F.count(F.lit(1)).alias("windows"),
            F.sum("n_events").alias("n_events")), "readers")
        registers = ctx.collect(lambda: incremental.read_upsert_sketch(
            ctx.spark, target).groupBy("part").agg(
            F.count(F.lit(1)).alias("registers")), "readers")
        return windows, registers

    def check(ctx: Ctx, tables) -> list[str]:
        windows, registers = tables
        return checks.upsert_counts(ctx, day, windows) + checks.equal(
            f"sketch days after day {day}", registers.num_rows,
            checks.days_covered(ctx, day))

    return Call(f"read_day{day}", "ingest", "read", "readers", (), run, check,
                warm=day == INGEST_BASE)


# --- workloads ----------------------------------------------------------------

#: the target holds INGEST_BASE days when a pass starts; each pass
#: upserts the days after it, whose late rows re-touch earlier days.
#: Set-up's untimed pass upserts only the first of them: the others
#: run the same plans.
INGEST_DAYS = 30
INGEST_BASE = 24

ETL_BATCH = Workload(
    name="etl_batch",
    sf=0.05,
    doc_sf=0.002,
    ingest_days=INGEST_DAYS,
    ingest_base=INGEST_BASE,
    calls=[
        query("op09_conjunctive_filter", "extract", "relational", ("orders",)),
        query("op14_20_projection_suite", "clean", "relational",
              ("customer", "nation", "region")),
        query("op26_first_match_lookup", "enrich", "relational", ("orders", "lineitem"),
              sample="o_orderkey"),
        query("op16_27_construct_split", "construct", "relational", ("orders",),
              sample="o_orderkey"),
        query("op45_46_conformance_suite", "encode_validate", "validation",
              ("orders", "customer", "nation"), sample="id"),
        query("op12_22_counts", "report", "relational", ("orders", "customer", "events")),
        # the bulk export is a job: its latency is a job's, its bytes are
        # the writers' and not the ingest commits'
        export("er7_text", "load", ("orders", "customer", "nation"),
               lambda ctx: clinical.op45_er7_encode(ctx.spark, ctx.data).select("er7"),
               writers.write_text, kind="job"),
        read_back("read_er7", "load", "er7_text",
                  lambda ctx, p: readers.read_scalar_text(ctx.spark, p),
                  lambda ctx, n: checks.equal("ER7 lines read back", n,
                                              checks.text_lines(ctx.path("er7_text")))),
        *[c for d in range(INGEST_BASE, INGEST_DAYS)
          for c in (upsert(d), read_after_write(d))],
    ],
)

SHARD_READS = 4

CORPUS_CURATION = Workload(
    name="corpus_curation",
    sf=0.002,
    doc_sf=0.02,
    calls=[
        direct("dedup_exact", "dedup", "dedup", ("documents",), checks.exact_groups),
        direct("dedup_minhash_pairs", "dedup", "dedup", ("documents",), checks.minhash_pairs),
        query("text_metrics_suite", "text", "text", ("documents",), sample="doc_id"),
        query("corpus_perplexity", "text", "lm", ("documents",), sample="doc_id"),
        query("quality_classifier_suite", "classify", "classify", ("documents",)),
        direct("embed_topk_bruteforce", "similarity", "similarity", ("embeddings",),
               checks.topk),
        direct("bm25_search", "retrieval", "retrieval", ("documents",), checks.bm25),
        export("curated_shards", "load", ("documents",),
               lambda ctx: REGISTRY["corpus_curation_pipeline"].run(ctx.spark, ctx.data),
               lambda df, p: writers.write_training_shards(
                   df, p, rows_per_shard=1000, order_col="doc_id")),
        *[read_shards(i) for i in range(SHARD_READS)],
    ],
)

WORKLOADS = {w.name: w for w in (ETL_BATCH, CORPUS_CURATION)}


def build_base(ctx: Ctx, path: str) -> None:
    """Upsert the generated base (the first ``ingest_base`` days, last
    writer wins) into a target at ``path`` in one commit; every pass
    starts from a copy of it."""
    base = readers.read_table(ctx.spark, ctx.manifest["base"])
    incremental.upsert_partitioned(base, path, sketch_col="event_type")
    ctx.base = path


def final_checks(ctx: Ctx, wl: Workload) -> list[str]:
    """Checks on the state a whole pass leaves: the final upsert target
    against DuckDB's recomputation from all batches."""
    if not wl.ingest_days:
        return []
    tbl = incremental.read_upsert_target(ctx.spark, ctx.path(UPSERT_TARGET)).toArrow()
    return checks.upsert_target(ctx, tbl, wl.ingest_days - 1)


def space_amp(ctx: Ctx, wl: Workload) -> float:
    """Bytes on disk per byte of live data over what the commits landed:
    the committed files of a transaction-logged target (after the
    upsert's vacuum), the part files of a plain write."""
    disk = live = 0
    for name in {c.out for c in wl.calls if c.kind == "commit"}:
        path = ctx.path(name)
        files = _files(path)
        disk += sum(files.values())
        if txlog.read_manifest(path)["version"] >= 0:
            live += sum(os.path.getsize(f) for f in txlog.committed_files(path))
        else:
            live += sum(size for f, size in files.items() if _is_data(f))
    return disk / live if live else 0.0


def reset_outputs(ctx: Ctx) -> None:
    """Delete the previous pass's writer and upsert outputs so disk
    growth does not carry across passes, and restore the upsert target
    built at set-up."""
    shutil.rmtree(ctx.out, ignore_errors=True)
    os.makedirs(ctx.out)
    if ctx.base is not None:
        shutil.copytree(ctx.base, ctx.path(UPSERT_TARGET))
