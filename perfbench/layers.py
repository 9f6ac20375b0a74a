"""The traced run: a layer-by-layer re-composition of `run_dedup`, spans
recorded around each layer from outside the package, and per-layer task
metrics read back from the Spark event log.

Each layer calls the package's public function for that step, in
`run_dedup`'s order, and materializes its output at the boundary under a
Spark job group named after the layer -- so every task the layer runs is
attributable to it in the event log. The walk must return the same members
table as `run_dedup`; the caller checks that, which is what proves the walk
re-composes the pipeline faithfully.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dedup_spark.config import DedupConfig
from dedup_spark.functions.signatures import doc_signature_udf, token_hashes
from dedup_spark.operators.components import connected_components
from dedup_spark.operators.exact import exact_dup_members
from dedup_spark.operators.ids import assign_dense_ids
from dedup_spark.operators.lsh import PAIR_CAP_ALL, lsh_candidate_pairs
from dedup_spark.operators.representatives import select_representatives
from dedup_spark.operators.scan import ingest_pages
from dedup_spark.operators.suffix import suffix_repeat_pairs
from dedup_spark.operators.summarize import summarize_clusters
from dedup_spark.plans.pipeline import (
    merge_channel_pairs,
    merge_near_candidates,
    simhash_candidate_pairs,
    spill,
    verify_near_candidates,
)

# pair-channel name -> the layer that produces it
CHANNEL_LAYER = {
    "exact": "exact", "minhash": "lsh.minhash", "simhash": "lsh.simhash",
    "suffix": "suffix",
}
# layer names, in run_dedup's order (checkpoint wraps the whole checkpointed
# run); they name the per-layer metrics and the Spark job groups
LAYERS = (
    "scan", "ids", "signatures", "exact", "lsh.minhash", "lsh.simhash",
    "verify", "suffix", "components", "representatives", "checkpoint",
)

# per-layer metrics: every layer gets PER_LAYER kinds, a few add LAYER_EXTRAS
PER_LAYER = (  # kind -> unit
    ("wall_s", "s"), ("task_cpu_s", "s"), ("gc_s", "s"),
    ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("rows_out", "rows"),
)
LAYER_EXTRAS = {  # metric -> unit
    "signatures.py_in_mb": "MB", "signatures.py_out_mb": "MB",
    "signatures.kernel_s": "s",
    "verify.py_in_mb": "MB", "verify.candidates": "pairs", "verify.yield": "ratio",
    "verify.kernel_s": "s",
    "exact.pairs": "pairs",
    "lsh.minhash.candidates": "pairs", "lsh.minhash.hot_buckets": "count",
    "lsh.minhash.pairs": "pairs",
    "lsh.simhash.candidates": "pairs", "lsh.simhash.hot_buckets": "count",
    "lsh.simhash.pairs": "pairs",
    "suffix.pairs": "pairs",
    "components.jobs": "count", "components.edges": "pairs",
    "checkpoint.resume_s": "s", "checkpoint.stages_computed": "count",
    "checkpoint.stages_replayed": "count", "checkpoint.pairs_incremental": "count",
    "run.unattributed_s": "s", "run.tracing_overhead_s": "s",
    "run.tasks_failed": "count",
    "host.membw_gbps": "GB/s", "host.steal_share": "ratio",
}


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: str | None
    run_id: str

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans and tags every Spark job launched inside one with the
    span's name as its job group (thread-local: jobs started from other
    threads carry no group and stay unattributed)."""

    def __init__(self, spark: SparkSession, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str, parent: str | None = "run", group: bool = True):
        if group:
            self.sc.setJobGroup(name, f"{self.run_id}:{name}")
        start = time.time()
        try:
            yield
        finally:
            self.spans.append(Span(name, start, time.time(), parent, self.run_id))
            if group:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def add(self, name: str, start: float, end: float, parent: str) -> None:
        self.spans.append(Span(name, start, end, parent, self.run_id))

    def as_dicts(self) -> list[dict]:
        return [asdict(s) for s in sorted(self.spans, key=lambda s: s.start)]


def checkpoint_spans(tracer: Tracer, root: str, t0: float, t1: float, t2: float) -> None:
    """Child spans of the checkpointed passes, from the run's metrics.jsonl
    stage records (stage, partition, wall_s, finished_ts)."""
    tracer.add("checkpoint.cold", t0, t1, "checkpoint")
    tracer.add("checkpoint.resume", t1, t2, "checkpoint")
    with open(os.path.join(root, "metrics.jsonl")) as f:
        for line in f:
            row = json.loads(line)
            if "wall_s" in row:  # pairs_mode event rows carry no wall
                end = row["finished_ts"]
                name = "/".join(p for p in (row["stage"], row["partition"]) if p)
                parent = "checkpoint.cold" if end <= t1 else "checkpoint.resume"
                tracer.add(f"checkpoint.{name}", end - row["wall_s"], end, parent)


def _boundary(df: DataFrame) -> DataFrame:
    """Materialize a layer's output so the next layer starts from it."""
    return df.localCheckpoint(eager=True)


def walk_run_dedup(pages: DataFrame, config: DedupConfig, tracer: Tracer):
    """`run_dedup(pages, config)` re-composed layer by layer.

    Returns (members pandas frame, facts, feats, candidates, docs): `facts`
    holds the counts measured at the boundaries, and the three DataFrames
    are layer outputs kept for the diagnostics below."""
    facts: dict[str, float] = {}
    null_ghash = F.lit(None).cast("long").alias("ghash")

    with tracer.span("scan"):
        ingested = _boundary(ingest_pages(pages, config))
        facts["scan.rows_out"] = ingested.count()

    with tracer.span("ids"):
        with_ids = assign_dense_ids(
            ingested.select(
                "url", "text",
                F.coalesce(
                    F.regexp_extract("source", r"(\d+)$", 1).try_cast("int"),
                    F.lit(0),
                ).alias("source_rank"),
                "warc_ts",
                F.length("text").cast("long").alias("doc_bytes"),
            ),
            "url", "nid",
        )
        combined = spill(
            with_ids.select(
                "nid", "url", "text", "source_rank", "warc_ts", "doc_bytes"
            ),
            config, "docs",
        )
        facts["ids.rows_out"] = combined.count()
    docs = combined.select(F.col("nid").alias("id"), "text")
    idmap = combined.select("nid", "url", "source_rank", "warc_ts", "doc_bytes")

    with tracer.span("signatures"):
        feats = spill(
            docs.select("id", token_hashes("text").alias("_tok"))
            .filter(F.size("_tok") > 0)
            .select(
                "id",
                doc_signature_udf(
                    config, include_signature=False, include_shingles=False
                )(F.col("_tok")).alias("s"),
            )
            .select("id", "s.simhash", "s.bands"),
            config, "feats",
        )
        facts["signatures.rows_out"] = feats.count()

    all_pairs = []
    with tracer.span("exact"):
        m = exact_dup_members(docs, id_col="id", text_col="text", config=config)
        exact = _boundary(
            m.filter(F.col("id") != F.col("exact_cluster_id")).select(
                F.least("exact_cluster_id", "id").alias("id_a"),
                F.greatest("exact_cluster_id", "id").alias("id_b"),
                F.lit("exact").alias("channel"),
                F.lit(1.0).alias("jaccard"),
                F.col("text_hash").alias("ghash"),
            )
        )
        facts["exact.rows_out"] = exact.count()
    all_pairs.append(exact)

    with tracer.span("lsh.minhash"):
        mh = _boundary(
            lsh_candidate_pairs(
                feats.select("id", F.col("bands").alias("band_keys")),
                config, channel="minhash",
            )
        )
        facts["lsh.minhash.rows_out"] = mh.count()

    with tracer.span("lsh.simhash"):
        sh = _boundary(simhash_candidate_pairs(feats.select("id", "simhash"), config))
        facts["lsh.simhash.rows_out"] = sh.count()

    with tracer.span("verify"):
        cand = _boundary(merge_near_candidates([mh, sh]))
        verified = _boundary(
            verify_near_candidates(docs, cand, config).withColumn("ghash", null_ghash)
        )
        n_cand, n_ver = cand.count(), verified.count()
        facts["verify.candidates"] = n_cand
        facts["verify.rows_out"] = n_ver
        facts["verify.yield"] = n_ver / n_cand if n_cand else 0.0
        for channel, n in cand.groupBy("channel").count().collect():
            facts[f"{CHANNEL_LAYER[channel]}.candidates"] = n
    all_pairs.append(verified)

    if config.suffix_enabled:
        with tracer.span("suffix"):
            sp = _boundary(
                suffix_repeat_pairs(docs, config, pair_cap_all=PAIR_CAP_ALL).select(
                    "id_a", "id_b", "channel",
                    F.lit(None).cast("double").alias("jaccard"), null_ghash,
                )
            )
            facts["suffix.rows_out"] = sp.count()
        all_pairs.append(sp)

    with tracer.span("components"):
        union = all_pairs[0]
        for p in all_pairs[1:]:
            union = union.unionByName(p)
        pairs = merge_channel_pairs(union).persist()
        labels = _boundary(connected_components(pairs, config))
        facts["components.edges"] = pairs.count()
        facts["components.rows_out"] = labels.count()

    with tracer.span("representatives"):
        hubs = idmap.select(
            F.col("nid").alias("cluster_id"), F.col("url").alias("_hub_url")
        )
        members = select_representatives(
            labels.join(idmap, labels.id == idmap.nid)
            .join(hubs, "cluster_id")
            .select(
                "url", F.col("_hub_url").alias("cluster_id"),
                "source_rank", "warc_ts", "doc_bytes",
            ),
            cluster_col="cluster_id",
            order_cols=[F.col("source_rank").asc(), F.col("warc_ts").asc()],
            id_col="url",
        )
        members_pd = members.toPandas()
        summarize_clusters(members, bytes_col="doc_bytes").collect()
        for channel, n in pairs.groupBy("channel").count().collect():
            facts[f"{CHANNEL_LAYER[channel]}.pairs"] = n
        facts["representatives.rows_out"] = len(members_pd)
    pairs.unpersist()
    return members_pd, facts, feats, cand, docs


def _add(acc: dict, key: str, value: float) -> None:
    acc[key] = acc.get(key, 0.0) + value


def read_event_log(path: str, window: tuple[float, float]) -> dict:
    """Per-job-group task totals plus each job's group and interval.

    Returns {"groups": {group: {task_cpu_s, gc_s, shuffle_write_mb,
    spill_mb, py_in_mb, py_out_mb, jobs}}, "jobs": [(group, start, end)],
    "tasks_failed": n}. A job with no group submitted inside `window` (the
    traced run) is keyed by None -- the unattributed work; one outside it
    by "outside"."""
    jobs: dict[int, list] = {}
    stage_group: dict[int, str | None] = {}
    groups: dict = defaultdict(dict)
    tasks_failed = 0
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                start = e["Submission Time"] / 1e3
                if g is None and not window[0] <= start <= window[1]:
                    g = "outside"
                jobs[e["Job ID"]] = [g, start, None]
                _add(groups[g], "jobs", 1)
                for s in e["Stage IDs"]:
                    stage_group.setdefault(s, g)
            elif ev == "SparkListenerJobEnd":
                jobs[e["Job ID"]][2] = e["Completion Time"] / 1e3
            elif ev == "SparkListenerTaskEnd":
                g = stage_group.get(e["Stage ID"])
                acc = groups[g]
                if g != "outside" and e["Task End Reason"]["Reason"] != "Success":
                    tasks_failed += 1
                m = e.get("Task Metrics") or {}
                _add(acc, "task_cpu_s", m.get("Executor CPU Time", 0) / 1e9)
                _add(acc, "gc_s", m.get("JVM GC Time", 0) / 1e3)
                _add(
                    acc, "shuffle_write_mb",
                    (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    ) / 1e6,
                )
                _add(
                    acc, "spill_mb",
                    (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0))
                    / 1e6,
                )
                for a in e["Task Info"].get("Accumulables", []):
                    if a.get("Name") == "data sent to Python workers":
                        _add(acc, "py_in_mb", int(a["Update"]) / 1e6)
                    elif a.get("Name") == "data returned from Python workers":
                        _add(acc, "py_out_mb", int(a["Update"]) / 1e6)
    return {
        "groups": dict(groups),
        "jobs": [tuple(j) for j in jobs.values() if j[2] is not None],
        "tasks_failed": tasks_failed,
    }


def covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def hot_bucket_counts(feats: DataFrame, config: DedupConfig) -> dict[str, int]:
    """operators/lsh.hot_buckets (buckets above PAIR_CAP_ALL) for both
    near-dup channels; SimHash buckets are its per-block probe keys."""
    from dedup_spark.functions.simhash import simhash_blocks
    from dedup_spark.operators.lsh import hot_buckets

    keys = {
        "lsh.minhash": F.col("bands"),
        "lsh.simhash": simhash_blocks("simhash", config),
    }
    return {
        f"{layer}.hot_buckets": hot_buckets(
            feats.select("id", col.alias("band_keys")), config
        ).count()
        for layer, col in keys.items()
    }


def kernel_seconds(docs: DataFrame, cand: DataFrame, config: DedupConfig) -> dict:
    """In-process time of the numpy kernels behind the two Python UDF stages,
    on the token arrays those stages see, in Arrow-batch-sized slices:
    signature_batch over every doc with tokens (the signature UDF) and
    shingle_hash_arrays over the candidate-involved docs (verify's lazy
    shingles). Beside the layers' wall and task time this separates the
    numpy kernel from the Arrow transfer around it."""
    from dedup_spark.functions.signatures import (
        shingle_hash_arrays,
        signature_batch,
    )

    toks = (
        docs.select("id", token_hashes("text").alias("tok"))
        .filter(F.size("tok") > 0)
        .toPandas()
    )
    involved = cand.select(F.col("id_a").alias("id")).unionByName(
        cand.select(F.col("id_b").alias("id"))
    ).distinct().toPandas()["id"]
    step = config.arrow_max_records_per_batch

    def timed(fn, series) -> float:
        total = 0.0
        for lo in range(0, len(series), step):
            batch = series.iloc[lo : lo + step].reset_index(drop=True)
            t0 = time.perf_counter()
            fn(batch)
            total += time.perf_counter() - t0
        return total

    c = config
    return {
        "signatures.kernel_s": timed(
            lambda b: signature_batch(
                b, c.shingle_k, c.num_perm, c.minhash_seed, c.lsh_bands,
                c.lsh_rows_per_band, include_signature=False,
                include_shingles=False, scheme=c.minhash_scheme,
            ),
            toks["tok"],
        ),
        "verify.kernel_s": timed(
            lambda b: shingle_hash_arrays(b, c.shingle_k),
            toks.loc[toks["id"].isin(involved), "tok"],
        ),
    }
