"""The benchmark's workloads: one op = one complete batch, run through
the package's public functions, then checked against the generator's
expected outputs.

Each workload splits an op into ``run`` (the timed part), ``check``
(outside the timed interval; returns the list of failed checks) and
``cleanup`` (outside the timed interval; releases caller-owned caches
and deletes per-op output so no state carries into the next op).
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import gen
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.operators import dedup as dd
from xero_api_etl_utilities_spark.operators import textstats as tx
from xero_api_etl_utilities_spark.plans.pipeline import (
    EntityConfig,
    deliver,
    run_daily_import,
)
from xero_api_etl_utilities_spark.sources.excel_grid import read_workbook_grids

RESOURCE = "invoices"
VERIFY_SAMPLE = 64  # verified pairs re-checked in pure Python per op


class Tracer:
    """Layer spans for one op.

    Every layer call runs under its own Spark job group
    ``<op tag>:<layer>`` in traced and untraced ops alike, so the
    per-op job and task counts come from the status tracker without an
    event log.  A traced op additionally materializes lazy layer outputs
    with a ``noop`` write (group ``<op tag>:<layer>:trace``) to time
    them; that extra work is the tracing overhead.
    """

    def __init__(self, spark: SparkSession, tag: str, traced: bool):
        self.sc = spark.sparkContext
        self.tag = tag
        self.traced = traced
        self.groups: list[str] = []
        self.values: dict[str, float] = {}

    @contextmanager
    def layer(self, name: str, metric: str | None = None):
        group = f"{self.tag}:{name}"
        self.groups.append(group)
        self.sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.sc.setJobGroup(f"{self.tag}:idle", f"{self.tag}:idle")
            if metric is not None and self.traced:
                self.values[metric] = time.perf_counter() - t0

    def materialize(self, layer: str, metric: str, df: DataFrame) -> None:
        if self.traced:
            with self.layer(f"{layer}:trace", metric):
                df.write.format("noop").mode("overwrite").save()

    def count(self, layer: str, metric: str, df: DataFrame) -> None:
        if self.traced:
            with self.layer(f"{layer}:trace"):
                self.values[metric] = float(df.count())

    def program_groups(self) -> list[str]:
        return [g for g in self.groups if not g.endswith(":trace")]


@dataclass(frozen=True)
class OpCounts:
    """What one op's program calls ran, from the status store."""

    jobs: int
    tasks: int
    input_records: int  # records read from files and cached blocks
    wide_jobs: int  # jobs that ran a stage of >= defaultParallelism tasks
    wide_tasks: int  # tasks of those stages

    def signature(self) -> tuple[int, int, int]:
        """The steadiness guard's key: equal for every timed op of a run.

        Stages narrower than the core count are left out because AQE
        decides them by a race: on unchanged input, which side of the
        exact-Jaccard verify's small joins is broadcast, and how far a
        small shuffle is coalesced, depend on which query stage finishes
        first (measured: about one corpus op in five runs one more
        one-task broadcast job).  Memo hits and leaked caches change the
        records read; shuffle and join-strategy changes at full width
        change the wide stages."""
        return self.input_records, self.wide_jobs, self.wide_tasks


def op_counts(spark: SparkSession, groups: list[str]) -> OpCounts:
    """Jobs, tasks and records read by the op's job groups.  A stage
    shared by two jobs counts once; a skipped stage ran no tasks."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    job_stages: dict[int, set[int]] = {}
    for g in groups:
        for jid in st.getJobIdsForGroup(g):
            info = st.getJobInfo(jid)
            job_stages[jid] = set(info.stageIds) if info is not None else set()
    tasks: dict[int, int] = {}
    records = 0
    for sid in set().union(*job_stages.values()):
        data = store.lastStageAttempt(sid)
        tasks[sid] = data.numCompleteTasks() + data.numFailedTasks()
        records += data.inputRecords()
    wide = {sid for sid, n in tasks.items() if n >= sc.defaultParallelism}
    return OpCounts(
        jobs=len(job_stages),
        tasks=sum(tasks.values()),
        input_records=records,
        wide_jobs=sum(1 for sids in job_stages.values() if sids & wide),
        wide_tasks=sum(tasks[sid] for sid in wide),
    )


def release_caches(spark: SparkSession) -> None:
    """Drop every persisted RDD (caller-owned caches and the operators'
    local checkpoints), so no op runs with a predecessor's blocks."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


@dataclass
class OpResult:
    items: int = 0
    state: dict = field(default_factory=dict)


# ---------------------------------------------------------------------------
# daily_import
# ---------------------------------------------------------------------------


def read_delivered(root: str) -> bytes:
    path = os.path.join(root, f"{RESOURCE}.out.jsonl")
    if not os.path.exists(path):
        return b""
    with open(path, "rb") as f:
        return f.read()


def delivered_refs(blob: bytes) -> list[str]:
    return [json.loads(line)["reference"] for line in blob.splitlines() if line]


def check_delivery(refs: list[str], expected: gen.DailyExpected) -> list[str]:
    """The delivered reference list must be exactly the expected set,
    each reference once."""
    errs = []
    got = set(refs)
    if len(got) != len(refs):
        errs.append(f"{len(refs) - len(got)} duplicate references delivered")
    missing, extra = expected.references - got, got - expected.references
    if missing:
        errs.append(f"{len(missing)} references missing, e.g. {sorted(missing)[:3]}")
    if extra:
        errs.append(f"{len(extra)} unexpected references, e.g. {sorted(extra)[:3]}")
    return errs


def claim_count(root: str) -> int:
    refs = os.path.join(root, f"{RESOURCE}.refs")
    return len(os.listdir(refs)) if os.path.isdir(refs) else 0


class DailyWorkload:
    """EP1: decode the drop dir, verify against the charge table, build
    documents, POST them into a fresh transport root (every POST
    writes), then POST them again into the same root: the retry after
    a partial failure, where every POST is an idempotent SKIPPED."""

    def __init__(self, spark, inputs: gen.DailyInputs, work: str, fault: str):
        self.spark = spark
        self.inputs = inputs
        self.work = work
        self.fault = fault

    def run(self, tr: Tracer) -> OpResult:
        spark, inp = self.spark, self.inputs
        root = os.path.join(self.work, f"root-{tr.tag}")
        with tr.layer("excel_grid"):
            grid = read_workbook_grids(spark, inp.drop_dir)
        tr.materialize("excel_grid", "excel_grid.decode_s", grid)
        if tr.traced:
            from xero_api_etl_utilities_spark.operators.daydocket import parse_charges

            tr.materialize("daydocket", "daydocket.parse_s", parse_charges(grid))
        cfg = EntityConfig(entity="pw", transport_root=root)
        with tr.layer("pipeline", "pipeline.run_daily_import_s"):
            charges = spark.read.parquet(inp.charge_table)
            dim = spark.read.parquet(inp.customer_dim)
            out = run_daily_import(grid, charges, dim, cfg)
        tr.count("reconcile", "reconcile.matched", out["matched"])
        tr.count("reconcile", "reconcile.unverified", out["unverified"])
        tr.materialize("documents_out", "documents_out.assemble_s", out["payloads"])
        tr.count("documents_out", "documents_out.documents", out["documents"])
        with tr.layer("rest", "rest.post_s"):
            deliver(out["payloads"], cfg)
        # the delivered file and claims after the first delivery (a read
        # of ~1,000 lines and file names, a few ms of the op)
        first = (read_delivered(root), claim_count(root))
        with tr.layer("rest.replay", "rest.replay_s"):
            deliver(out["payloads"], cfg)
        return OpResult(state={"out": out, "root": root, "first": first})

    def check(self, res: OpResult, tr: Tracer) -> list[str]:
        out, root = res.state["out"], res.state["root"]
        first_blob, first_claims = res.state["first"]
        exp = self.inputs.expected
        errs = []
        # the strict pipeline already raised if any charge were unverified
        if out["all_balanced"] is not all(exp.balanced.values()):
            errs.append(f"all_balanced={out['all_balanced']}")
        refs = delivered_refs(first_blob)
        if self.fault == "drop_output" and refs:
            refs = refs[1:]
        errs += check_delivery(refs, exp)
        # the replay: every POST SKIPPED, so the file is byte-for-byte
        # unchanged and no reference gained a claim
        replay_changed = read_delivered(root) != first_blob
        if replay_changed:
            errs.append("invoices.out.jsonl changed on replay: a POST was not SKIPPED")
        new_claims = claim_count(root) - first_claims
        if new_claims:
            errs.append(f"{new_claims} new reference claims on replay")
        ok = len(refs)
        skipped = exp.documents if not (replay_changed or new_claims) else 0
        res.items = ok + skipped if not errs else 0
        if tr.traced:
            m, u = tr.values["reconcile.matched"], tr.values["reconcile.unverified"]
            tr.values["reconcile.match_ratio"] = m / (m + u) if m + u else 0.0
            tr.values["rest.posted_ok"] = float(ok)
            tr.values["rest.skipped"] = float(skipped)
            tr.values["rest.skip_ratio"] = skipped / (ok + skipped) if ok + skipped else 0.0
        return errs

    def cleanup(self, res: OpResult) -> None:
        out = res.state.get("out")
        if out is not None:
            out["matched"].unpersist()
        release_caches(self.spark)
        if "root" in res.state:
            shutil.rmtree(res.state["root"], ignore_errors=True)


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------


def exact_jaccard(a: str, b: str) -> tuple[int, int]:
    """Pure-Python unigram Jaccard as (|A∩B|, |A∪B|)."""
    ta, tb = gen.token_set(a), gen.token_set(b)
    return len(ta & tb), len(ta | tb)


def check_corpus(
    pairs: list[tuple[int, int, int, int]],
    survivors: set[int],
    inputs: gen.CorpusInputs,
    sample_seed: int,
) -> list[str]:
    """Every planted pair verified, the written survivor ids exactly the
    expected ones, and a sample of verified pairs re-derived in pure
    Python (integer inter/union equal, at or above 7/10)."""
    exp = inputs.expected
    errs = []
    verified = {(a, b) for a, b, _, _ in pairs}
    missed = exp.planted - verified
    if missed:
        errs.append(f"{len(missed)} planted pairs not verified, e.g. {sorted(missed)[:3]}")
    if survivors != exp.survivors:
        errs.append(
            f"survivors: {len(survivors)} written, {len(exp.survivors)} expected, "
            f"{len(survivors ^ exp.survivors)} ids differ"
        )
    rng = random.Random(sample_seed)
    for a, b, inter, union in rng.sample(pairs, min(VERIFY_SAMPLE, len(pairs))):
        want = exact_jaccard(inputs.texts[a], inputs.texts[b])
        if (inter, union) != want or gen.JACCARD_DEN * inter < gen.JACCARD_NUM * union:
            errs.append(f"pair ({a},{b}) reported {inter}/{union}, exact {want[0]}/{want[1]}")
    return errs


class CorpusWorkload:
    """The stages of ``pipeline_corpus_clean`` (plans/extensions.py
    ``_pipeline_stages`` and the substrate it reads,
    plans/corpus_ops.py ``minhash_sigs`` / ``lsh_candidates`` /
    ``_verified_pairs``), called operator by operator with the same
    local checkpoints but without the plan-level memo dicts: quality
    gate -> exact dedup (min id per sha256) -> MinHash (n=1, 64 hashes)
    over the raw corpus -> LSH candidates (16x4, max_bucket=500) ->
    exact-Jaccard verify (``cands_at_width=True``) -> verified pairs
    restricted to pairs whose both ends survived the gate and exact
    dedup -> drop the larger id of each -> write survivors as parquet."""

    def __init__(self, spark, inputs: gen.CorpusInputs, work: str, fault: str):
        self.spark = spark
        self.inputs = inputs
        self.work = work
        self.fault = fault

    def run(self, tr: Tracer) -> OpResult:
        spark = self.spark
        par = spark.sparkContext.defaultParallelism
        with tr.layer("textstats"):
            docs = spark.read.parquet(self.inputs.path)
            flags = tx.quality_flags(F.col("text"))
            q = docs.filter(flags["len_ok"] & flags["punct_ok"] & flags["stopword_ok"])
        tr.materialize("textstats", "textstats.gate_s", q)
        with tr.layer("dedup.exact", "dedup.exact_s"):
            keep = dd.exact_dedup(q, "text", "doc_id").select("doc_id")
            surv = q.join(keep, "doc_id").localCheckpoint()
        with tr.layer("dedup.signatures", "dedup.signatures_s"):
            sigs = dd.minhash_signatures(docs, "doc_id", "text", n=1, num_hashes=64)
            sigs = sigs.localCheckpoint()
        with tr.layer("dedup.candidates", "dedup.candidates_s"):
            cands = dd.minhash_lsh_candidates(sigs, bands=16, rows_per_band=4, max_bucket=500)
            cands = cands.localCheckpoint()
        tr.count("dedup.candidates", "dedup.candidates", cands)
        with tr.layer("dedup.verify", "dedup.verify_s"):
            pairs = dd.jaccard_verify(
                cands, docs, "doc_id", "text", n=1, parallelism=par, cands_at_width=True
            ).localCheckpoint()
        tr.count("dedup.verify", "dedup.verified_pairs", pairs)
        path = os.path.join(self.work, f"survivors-{tr.tag}")
        with tr.layer("writer", "writer.survivors_write_s"):
            kept = (
                pairs.join(surv.select(F.col("doc_id").alias("doc_a")), "doc_a", "left_semi")
                .join(surv.select(F.col("doc_id").alias("doc_b")), "doc_b", "left_semi")
            )
            near = kept.select(F.col("doc_b").alias("doc_id")).distinct().localCheckpoint()
            surv.join(near, "doc_id", "left_anti").select("doc_id", "text").write.parquet(path)
        return OpResult(state={"pairs": pairs, "path": path})

    def check(self, res: OpResult, tr: Tracer) -> list[str]:
        import pyarrow.parquet as pq

        pairs = [tuple(r) for r in res.state["pairs"].collect()]
        survivors = set(pq.read_table(res.state["path"], columns=["doc_id"])["doc_id"].to_pylist())
        if self.fault == "drop_output" and survivors:
            survivors.discard(min(survivors))
        errs = check_corpus(pairs, survivors, self.inputs, sample_seed=len(pairs))
        res.items = self.inputs.expected.docs if not errs else 0
        if tr.traced:
            verified = {(a, b) for a, b, _, _ in pairs}
            planted = self.inputs.expected.planted
            tr.values["dedup.planted_recall"] = len(planted & verified) / len(planted)
            c = tr.values["dedup.candidates"]
            tr.values["dedup.verify_precision"] = len(pairs) / c if c else 0.0
        return errs

    def cleanup(self, res: OpResult) -> None:
        release_caches(self.spark)
        if "path" in res.state:
            shutil.rmtree(res.state["path"], ignore_errors=True)

