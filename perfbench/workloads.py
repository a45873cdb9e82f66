"""The benchmark's workloads: op lists, default seed and run loops.

Op lists live here, not in ``bench.py``, so an edit to the legacy bench
cannot silently change a workload. Every workload is a closed loop with
one client: the next op starts when the previous one has returned and
been checked.

Time structure of one run (README.md defines the metrics):

    set-up (process start, session, catalog, base table)
      ->  warm-up pass  ->  timed passes

``setup_s`` spans the first two, from process start to the first timed
op.

An op's timed window covers exactly the user-visible work; output
checks, releasing persisted state and trace bookkeeping sit outside it.
Import this module only after ``run.py`` has pinned the environment.
"""

from __future__ import annotations

import gc
import os
import random
import shutil
import time

from pyspark.sql import functions as F

import oracle_check as oc
from lakehouse_automation_spark.engine import get_spark, load_tables
from lakehouse_automation_spark.operators import cache
from lakehouse_automation_spark.pipelines import (
    Ledger, generate_survey, retention_sweep, write_survey_csv)
from lakehouse_automation_spark.queries import REGISTRY
from lakehouse_automation_spark.streaming.ingest import SURVEY_SCHEMA, IngestPipeline
from lakehouse_automation_spark.tableformat import CowTable

from checks import SURVEY_COLS, OracleChecker, SurveyModel, check_ingest
from probe import SparkProbe, executed_plan, plan_counts

DEFAULT_SEED = 20260101

# Text, vector, multimodal and graph keys, cold-equivalent (state
# released between ops): at least one key of each family, including the
# three whose plan build runs driver-side jobs.
CURATION_BATCH = [
    "text_exact_dedup",
    "curate_pipeline",
    "vec_knn_join",
    "vec_ivf_index_refresh",
    "mm_decode_features",
    "graph_components",
]

# ingest_refresh: one base table, then land -> ingest -> merge ticks
BASE_ROWS = 20_000
BATCH_ROWS = 10_000
ID_MAX = 129_879            # survey id domain (pipelines.datagen)
TICKS_PER_PASS = 4
MAINTAIN_EVERY = 2          # compact + vacuum + retention on every 2nd tick
RANGE_WIDTH = 2_000         # ids per stats-pruned range read


def permuted(ops: list[str], seed: int, pass_no: int) -> list[str]:
    order = list(ops)
    random.Random(seed * 1_000 + pass_no).shuffle(order)
    return order


def _error(e: Exception) -> str:
    return f"ERROR {type(e).__name__}: {(str(e).splitlines() or [''])[0][:300]}"


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class Run:
    """State shared by a workload's set-up, passes and report."""

    def __init__(self, workload: str, seed: int, seconds: float, traced: bool,
                 cores: int, data_dir: str, work_dir: str, cache_dir: str,
                 data_fingerprint: str, rss, t0: float, cache_build_s: float):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.cores = cores
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.cache_dir = cache_dir
        self.data_fingerprint = data_fingerprint
        self.rss = rss
        self.spark = None
        self.probe: SparkProbe | None = None
        self.setup: dict = {}
        self.ops: list[dict] = []        # every executed op, warm-up included
        self.passes: list[dict] = []     # timed passes
        self.marks: dict[str, float] = {}  # phase ends, s since process start
        self._t0 = t0
        # one-time builds of the checkout's caches (input tables, oracle
        # results): the first run pays them, so set-up leaves them out
        self.cache_build_s = cache_build_s

    def mark(self, phase: str) -> None:
        self.marks[phase] = time.perf_counter() - self._t0

    def new_session(self) -> dict:
        """Build the session and load the catalog; seconds of each."""
        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.workload}")
        t1 = time.perf_counter()
        load_tables(self.spark, self.data_dir)
        t2 = time.perf_counter()
        self.probe = SparkProbe(self.spark, self.cores)
        return {"engine.session_s": t1 - t0, "engine.catalog_load_s": t2 - t1}

    def release(self, rec: dict) -> None:
        """Between ops, outside the timed windows: drop persisted state,
        then collect garbage in the JVM and in Python, so no op pays for
        the previous op's garbage."""
        t0 = time.perf_counter()
        cache.release_persisted()
        rec["cache.release_s"] = time.perf_counter() - t0
        self.spark._jvm.System.gc()
        gc.collect()

    def timed_passes(self, run_pass) -> None:
        """Run whole passes until ``seconds`` have been measured. In a
        traced run every op runs twice, untraced and traced, in an order
        that alternates from op to op, so tracing overhead is measured
        by interleaved A/B within the run."""
        self.mark("warmup")
        self.rss.start()
        start = time.perf_counter()
        n = 0
        while n == 0 or time.perf_counter() - start < self.seconds:
            n += 1
            self.passes.append(run_pass(n, self.traced))
        self.rss.stop()
        self.mark("timed")

    def modes(self, position: int, interleave: bool) -> tuple[bool, ...]:
        if not interleave:
            return (False,)
        return (False, True) if position % 2 == 0 else (True, False)

    def pass_record(self, pass_no: int, recs: list[dict]) -> dict:
        """Sum one pass; ``pass_s`` counts only untraced executions."""
        self.ops.extend(recs)

        def total(traced):
            return sum(r.get("wall_s", 0.0) + r.get("read_s", 0.0)
                       for r in recs if r["traced"] == traced)

        plain = [r for r in recs if not r["traced"] and r["ok"]]
        return {"pass": pass_no, "pass_s": total(False),
                "traced_pass_s": total(True) if any(r["traced"] for r in recs) else None,
                "op_s": [r["wall_s"] for r in plain],
                "read_s": [r["read_s"] for r in plain if "read_s" in r],
                "rows": sum(r.get("rows", 0) for r in plain)}


class RegistryWorkload:
    """Registry keys, each output checked against its DuckDB oracle.
    Persisted state is released between ops."""

    def __init__(self, run: Run, keys: list[str]):
        self.run = run
        self.keys = keys
        self.checker = OracleChecker(run.data_dir, run.cache_dir,
                                     run.data_fingerprint)

    def op(self, key: str, pass_no: int, traced: bool) -> dict:
        run, probe, q = self.run, self.run.probe, REGISTRY[key]
        rec = {"key": key, "pass": pass_no, "traced": traced}
        if traced:
            probe.tag(f"perfbench/{key}/build")
            j0, e0 = probe.next_job_id(), time.time()
        try:
            t0 = time.perf_counter()
            df = q.fn(run.spark, run.data_dir)
            t1 = time.perf_counter()
            if traced:
                j1 = probe.next_job_id()
                probe.tag(f"perfbench/{key}/action")
            sdf = oc.spark_temporal_safe(df)
            pdf = sdf.toPandas()
            t2 = time.perf_counter()
        except Exception as e:  # noqa: BLE001 - a failed op is a result
            rec.update(ok=False, detail=_error(e))
            run.release(rec)
            return rec
        rec["wall_s"] = t2 - t0
        if traced:
            e2, j2 = time.time(), probe.next_job_id()
            probe.untag()
            rec.update(probe.jobs_summary(j0, j2, e0, e2))
            rec["queries.build_s"] = t1 - t0
            rec["queries.build_jobs"] = j1 - j0
            rec["queries.build_stages"] = probe.jobs_summary(j0, j1, e0, e2)["spark.stages"]
            rec["spark.action_s"] = t2 - t1
            rec.update(plan_counts(executed_plan(sdf)))
            rec["cache.entries"] = len(cache._PERSISTED) + len(cache._SCALARS)
            rec["cache.mem_bytes"] = probe.cached_bytes()
        try:
            verdict = self.checker.check(key, q.oracle, pdf)
        except Exception as e:  # noqa: BLE001 - an uncheckable op fails
            verdict = _error(e)
        rec["ok"], rec["detail"] = verdict.startswith("OK"), verdict
        run.release(rec)
        return rec

    def run_pass(self, pass_no: int, interleave: bool) -> dict:
        recs = [self.op(k, pass_no, traced)
                for i, k in enumerate(permuted(self.keys, self.run.seed, pass_no))
                for traced in self.run.modes(i, interleave)]
        return self.run.pass_record(pass_no, recs)

    def execute(self) -> None:
        run = self.run
        run.setup = run.new_session()
        run.mark("setup")
        run.ops.extend(self.op(k, 0, False)    # warm-up: JIT, codegen, workers
                       for k in self.keys)
        run.cache_build_s += self.checker.build_s
        run.timed_passes(self.run_pass)
        self.checker.close()


def dedup_on_id(df):
    """One row per id, the greatest by the other columns: ``merge_upsert``
    would keep duplicate update keys as they are."""
    others = SURVEY_COLS[1:]
    return (df.groupBy("id").agg(F.max(F.struct(*others)).alias("_r"))
            .select("id", *[F.col(f"_r.{c}").alias(c) for c in others]))


class IngestWorkload:
    """ingest_refresh: the reference's land -> load -> query loop on a
    copy-on-write table keyed on ``id``."""

    def __init__(self, run: Run):
        self.run = run
        self.rng = random.Random(run.seed)
        self.ticks = 0

    def setup(self) -> dict:
        run = self.run
        parts = run.new_session()
        root = os.path.join(run.work_dir, "ingest")
        base_csv = write_survey_csv(
            generate_survey(run.spark, BASE_ROWS, seed=run.seed),
            os.path.join(root, "base"), stamp="datagen_base")
        base = (run.spark.read.schema(SURVEY_SCHEMA).option("header", True)
                .csv(base_csv))
        self.table = CowTable.create(run.spark, dedup_on_id(base),
                                     os.path.join(root, "table"), stats_cols=["id"])
        self.root, self.base_csv = root, base_csv
        return parts

    def _live_files(self) -> int:
        return sum(1 for c in self.table.manifest()["chunks"]
                   for f in os.listdir(os.path.join(self.table.path, c))
                   if f.endswith(".parquet"))

    def tick(self, pass_no: int, slot: int, traced: bool) -> dict:
        run, spark, table, probe = self.run, self.run.spark, self.table, self.run.probe
        self.ticks += 1
        t = self.ticks
        maintain = slot % MAINTAIN_EVERY == MAINTAIN_EVERY - 1
        lo = self.rng.randrange(1, ID_MAX - RANGE_WIDTH)
        hi = lo + RANGE_WIDTH - 1
        rec = {"key": "tick+maintain" if maintain else "tick", "pass": pass_no,
               "traced": traced}
        if traced:
            chunks_before = set(table.manifest()["chunks"])
            probe.tag(f"perfbench/tick{t}")
            j0, e0 = probe.next_job_id(), time.time()
        try:
            t0 = time.perf_counter()
            landed = write_survey_csv(
                generate_survey(spark, BATCH_ROWS, seed=run.seed * 1_000 + t),
                self.landing, stamp=f"datagen_{t:05d}")
            t1 = time.perf_counter()
            seen = set(os.listdir(self.ingested))
            self.pipe.run_available()
            t2 = time.perf_counter()
            new = sorted(set(os.listdir(self.ingested)) - seen)
            updates = spark.read.parquet(
                *[os.path.join(self.ingested, b) for b in new]).drop("ingest_ts")
            table.merge(dedup_on_id(updates), "id")
            t3 = time.perf_counter()
            if traced:   # bytes of the merge chunk, before vacuum can drop it
                after_merge = set(table.manifest()["chunks"])
                written = sum(_du(os.path.join(table.path, c))
                              for c in after_merge - chunks_before)
            t3b = time.perf_counter()
            if maintain:
                table.compact()
                t4 = time.perf_counter()
                table.vacuum(retain_versions=1, grace_s=0)
                t5 = time.perf_counter()
                retention_sweep(self.landing, 0, now_s=os.path.getmtime(landed))
                t6 = time.perf_counter()
            t_end = time.perf_counter()
            if traced:
                jr0 = probe.next_job_id()
                probe.tag(f"perfbench/read{t}")
            # the read issued after the commit: a stats-pruned range scan
            # and a snapshot aggregate
            r0 = time.perf_counter()
            scan_df = table.scan("id", lo, hi)
            groups_df = (table.read().groupBy("satisfaction", "travel_type")
                         .agg(F.count(F.lit(1)).alias("n"),
                              F.sum("departure_delay").alias("delay_sum")))
            r1 = time.perf_counter()
            if traced:
                jr1 = probe.next_job_id()
            scan_pdf = scan_df.toPandas()
            groups_pdf = groups_df.toPandas()
            r2 = time.perf_counter()
        except Exception as e:  # noqa: BLE001 - a failed op is a result
            rec.update(ok=False, detail=_error(e))
            run.release(rec)
            return rec
        rec["wall_s"] = (t3 - t0) + (t_end - t3b)
        rec["read_s"] = r2 - r0
        rec["rows"] = BATCH_ROWS
        if traced:
            e2, j2 = time.time(), probe.next_job_id()
            probe.untag()
            rec.update(probe.jobs_summary(j0, j2, e0, e2))
            rec["queries.build_s"] = r1 - r0
            rec["queries.build_jobs"] = jr1 - jr0
            rec["queries.build_stages"] = probe.jobs_summary(jr0, jr1, e0, e2)["spark.stages"]
            rec["spark.action_s"] = r2 - r1
            plans = [plan_counts(executed_plan(d)) for d in (scan_df, groups_df)]
            rec.update({k: sum(p[k] for p in plans) for k in plans[0]})
            rec["cache.entries"] = len(cache._PERSISTED) + len(cache._SCALARS)
            rec["cache.mem_bytes"] = probe.cached_bytes()
            if maintain:    # the compacted chunk is the tick's other write
                written += sum(_du(os.path.join(table.path, c))
                               for c in table.manifest()["chunks"])
            live = self._live_files()
            rec.update({
                "tableformat.merge_s": t3 - t2,
                "tableformat.chunks_rewritten": len(chunks_before - after_merge),
                "tableformat.write_amp": written / sum(
                    _du(os.path.join(self.ingested, b)) for b in new),
                "tableformat.live_files": live,
                "tableformat.scan_files_kept_frac":
                    len(table.pruned_files("id", lo, hi)) / max(1, live),
                "tableformat.compact_s": t4 - t3b if maintain else 0.0,
                "tableformat.vacuum_s": t5 - t4 if maintain else 0.0,
                "ingest.run_s": t2 - t1,
                "ingest.rows": spark.read.parquet(
                    *[os.path.join(self.ingested, b) for b in new]).count(),
                "pipelines.datagen_write_s": t1 - t0,
                "pipelines.retention_s": t6 - t5 if maintain else 0.0,
            })
        # checks, outside the timed windows
        self.model.merge(landed)
        applied = Ledger(spark, self.ledger_path).read().filter("is_apply = 1").count()
        batches = sum(1 for b in os.listdir(self.ingested) if b.startswith("b"))
        if traced:
            rec["pipelines.ledger_rows"] = applied
        verdict = check_ingest(self.model, lo, hi, scan_pdf, groups_pdf,
                               table.verify(), applied, batches, t)
        rec["ok"], rec["detail"] = verdict.startswith("OK"), verdict
        run.release(rec)
        return rec

    def run_pass(self, pass_no: int, interleave: bool) -> dict:
        recs = [self.tick(pass_no, slot, traced)
                for slot in range(TICKS_PER_PASS)
                for traced in self.run.modes(slot, interleave)]
        return self.run.pass_record(pass_no, recs)

    def execute(self) -> None:
        run = self.run
        run.setup = self.setup()
        run.mark("setup")
        self.landing = os.path.join(self.root, "landing")
        self.ingested = os.path.join(self.root, "ingested")
        self.ledger_path = os.path.join(self.root, "ledger")
        os.makedirs(self.landing)
        os.makedirs(self.ingested)
        self.pipe = IngestPipeline(run.spark, self.landing, self.ingested,
                                   os.path.join(self.root, "checkpoint"),
                                   ledger_path=self.ledger_path)
        self.model = SurveyModel(self.base_csv)
        # warm-up: one maintenance tick runs every code path
        run.ops.append(self.tick(0, MAINTAIN_EVERY - 1, False))
        run.timed_passes(self.run_pass)

    def space_amp(self) -> float:
        """Bytes under the table path over the live snapshot's bytes when
        written once as parquet (untimed, at run end)."""
        once = os.path.join(self.root, "snapshot_once")
        self.table.read().write.mode("overwrite").parquet(once)
        amp = _du(self.table.path) / _du(once)
        shutil.rmtree(once, ignore_errors=True)
        return amp


WORKLOADS = {
    "curation_batch": lambda run: RegistryWorkload(run, CURATION_BATCH),
    "ingest_refresh": IngestWorkload,
}
