"""Workloads of the linkage-engine benchmark: input generation, the timed
(untraced) loop, and the traced layer-by-layer run.

hot_skew_link       LinkagePipeline.run, 200-entity catalogue, datagen's
                    skew (30% of mentions are one alias, one conversation
                    has 100x the turns). Few distinct surfaces, so mention
                    extraction and the expansion back to mentions dominate.
large_catalog_link  LinkagePipeline.tuned(spark, 20_000) over a 2k-entity
                    catalogue: many distinct surfaces meet many entities, so
                    blocking (purge, key join, top-16 budget) and scoring
                    dominate.

The traced run of either workload also measures the durable path: a
checkpointed cold run, then a resume after the links and clusters stages are
lost.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blink_reloaded_spark import datagen
from blink_reloaded_spark.functions.hashing import xxhash64_mod
from blink_reloaded_spark.functions.text import tokens
from blink_reloaded_spark.operators.blocking import blocking_keys, purged_block_keys
from blink_reloaded_spark.operators.clustering import star_components
from blink_reloaded_spark.operators.mentions import extract_mentions
from blink_reloaded_spark.operators.scoring import two_phase_scored_pairs
from blink_reloaded_spark.plans.pipeline import ENTITY_ID_OFFSET, LinkagePipeline
from blink_reloaded_spark.procstat import canary_seconds, system_cpu_sample

import checks
import tracing

F1_GATE = 0.99
SETUP_REPEATS = 2  # input generation is repeated and its median reported
WARM_ITERS = 1  # untimed runs after the checked warm-up, part of set-up
MIN_ITERS = 2  # timed iterations per run, even past --seconds
STAGES = ("mentions", "surfaces", "candidates", "links", "clusters")
LOST_STAGES = ("links", "clusters")  # dropped before the durable resume
LAYERS = ("mentions", "surfaces", "blocking", "scoring", "clustering", "expand")


@dataclass(frozen=True)
class Spec:
    n_entities: int
    n_convs: int
    turns_per_conv: int
    hot_conv_factor: int
    tuned_for: int | None  # LinkagePipeline.tuned catalogue size, or None


SPECS = {
    "hot_skew_link": Spec(200, 5000, 25, 100, None),
    "large_catalog_link": Spec(2000, 60, 25, 60, 20_000),
}


@dataclass
class Inputs:
    turns: DataFrame  # (conv_id, turn_idx, text), materialized
    n_turns: int
    entities: DataFrame
    surfaces: list[str]
    gold_src: DataFrame  # datagen's gold mentions, lazy


@dataclass
class Timed:
    wall: float
    cpu: float
    rss: int
    gc: float  # driver JVM garbage collection seconds
    start: float
    end: float


@dataclass
class Outcome:
    """What one benchmark process measured."""

    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    lines: list[str] = field(default_factory=list)  # human-readable report
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)


def make_inputs(spark: SparkSession, spec: Spec, seed: int) -> Inputs:
    cat = datagen.EntityCatalog.build(n_entities=spec.n_entities, seed=seed)
    tr, gold = datagen.generate_transcripts(
        spark, cat, n_convs=spec.n_convs, turns_per_conv=spec.turns_per_conv,
        hot_conv_factor=spec.hot_conv_factor,
    )
    turns = tr.select("conv_id", "turn_idx", "text").localCheckpoint()
    entities = cat.entities_df(spark).localCheckpoint()
    entities.count()
    return Inputs(turns, turns.count(), entities, [a["surface"] for a in cat.aliases], gold)


def new_pipeline(spark: SparkSession, spec: Spec, **kw: Any) -> LinkagePipeline:
    if spec.tuned_for is not None:
        return LinkagePipeline.tuned(spark, spec.tuned_for, collect_metrics=False, **kw)
    return LinkagePipeline(spark, collect_metrics=False, **kw)


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median(xs: list[float]) -> float:
    return statistics.median(xs)


def _sample_note(n: int) -> str:
    # a percentile is reportable when at least ten samples lie beyond it
    if n < 20:
        return f"median of n={n} (no higher percentile has 10 samples beyond it)"
    return f"median of n={n}"


class Bench:
    """One workload in one SparkSession."""

    def __init__(
        self, spark: SparkSession, name: str, seed: int, work: str,
        mon: tracing.TreeMonitor,
    ) -> None:
        self.spark, self.name, self.seed = spark, name, seed
        self.spec = SPECS[name]
        self.ckpt_dir = os.path.join(work, "checkpoints")
        self.mon = mon
        self.out = Outcome()
        self.inp: Inputs | None = None
        self.want: tuple[int, int] | None = None  # digest of the checked output
        self.f1 = 0.0

    # -- operations ----------------------------------------------------------
    def _timed(self, fn: Callable[[], None]) -> Timed:
        """Run one operation, timing wall, process-tree CPU and peak RSS."""
        # let ContextCleaner drop the previous operation's checkpoint blocks
        self.spark.sparkContext._jvm.System.gc()
        self.out.attempted += 1
        gc0 = tracing.jvm_gc_seconds(self.spark)
        c0 = self.mon.cpu().total
        self.mon.reset()
        t0, p0 = time.time(), time.perf_counter()
        try:
            fn()
        except Exception:
            self.out.failed += 1
            raise
        wall = time.perf_counter() - p0
        t1 = time.time()
        cpu = self.mon.cpu().total - c0
        return Timed(wall, cpu, self.mon.peak(), tracing.jvm_gc_seconds(self.spark) - gc0, t0, t1)

    def _check_digest(self, df: DataFrame, what: str) -> None:
        d = checks.digest(df)
        if d != self.want:
            self.out.fail(f"{what}: digest {d} != checked output {self.want}")

    def _run(self, **kw: Any) -> tuple[Timed, LinkagePipeline, DataFrame]:
        """Time LinkagePipeline.run from the input frames to its output in
        the noop sink."""
        inp = self.inp
        pipe = new_pipeline(self.spark, self.spec, **kw)
        out: list[DataFrame] = []

        def run() -> None:
            out.append(pipe.run(inp.turns, inp.entities, surfaces=inp.surfaces))
            noop(out[0])

        return self._timed(run), pipe, out[0]

    def batch(self) -> tuple[Timed, dict[str, float], DataFrame]:
        """The primary operation: the in-memory run. Returns its timing, the
        pipeline's own {stage}_sec metrics and its output frame, whose stage
        checkpoints stay cached while the frame is referenced."""
        t, pipe, out = self._run()
        return t, {s: pipe.metrics.get(f"{s}_sec", 0.0) for s in STAGES}, out

    def durable(self, resume: bool) -> Timed:
        """The checkpointed run: cold from an empty store, or a resume after
        LOST_STAGES were deleted. Its output is read back from the store, so
        the digest check is cheap."""
        if resume:
            for s in LOST_STAGES:
                shutil.rmtree(os.path.join(self.ckpt_dir, s))
        else:
            shutil.rmtree(self.ckpt_dir, ignore_errors=True)
        t, _, out = self._run(checkpoint_dir=self.ckpt_dir)
        self._check_digest(out, "resume" if resume else "cold checkpointed run")
        return t

    # -- phases --------------------------------------------------------------
    def setup(self, session_s: float) -> float:
        """Inputs (the corpus generated SETUP_REPEATS times, median kept)
        plus the warm-up pass, whose output is checked. Returns set-up
        seconds, `session_s` included."""
        gen = []
        for _ in range(SETUP_REPEATS):
            if self.inp is not None:
                for df in (self.inp.turns, self.inp.entities):
                    df.unpersist()
            t0 = time.perf_counter()
            self.inp = make_inputs(self.spark, self.spec, self.seed)
            gen.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        self.warm_up()
        # the JIT keeps compiling for several runs after the first; the
        # timed runs start past the steepest part of that curve
        for _ in range(WARM_ITERS):
            self.batch()
        warm = time.perf_counter() - t0
        self.out.lines.append(
            f"setup: session {session_s:.3f}s + inputs {_median(gen):.3f}s "
            f"(median of {_r(gen, 3)}) + gold labels and {1 + WARM_ITERS} "
            f"warm-up runs {warm:.3f}s"
        )
        return session_s + _median(gen) + warm

    def warm_up(self) -> None:
        """First run of the operation (the JIT and the Python workers warm
        up here); its output is the one the F1 gate and the digests check."""
        inp = self.inp
        gold = checks.gold_keyed(inp.gold_src)  # read once, by the contingency join
        self.out.attempted += 1
        pipe = new_pipeline(self.spark, self.spec)
        clusters = pipe.run(inp.turns, inp.entities, surfaces=inp.surfaces)
        clusters = clusters.localCheckpoint()
        self.want = checks.digest(clusters)
        f1 = checks.pair_count_f1(checks.contingency(clusters, gold))
        clusters.unpersist()
        self.f1 = f1["f1"]
        self.out.lines.append(
            f"pairwise F1 {f1['f1']:.6f}: P {f1['precision']:.6f} R {f1['recall']:.6f} "
            f"(tp {f1['tp']}, fp {f1['fp']}, fn {f1['fn']}; gate >= {F1_GATE})"
        )
        if f1["f1"] < F1_GATE:
            self.out.fail(f"pairwise F1 {f1['f1']:.6f} < {F1_GATE}")

    def measure(self, seconds: float) -> dict[str, list[Any]]:
        """Timed iterations until `seconds` pass (at least MIN_ITERS)."""
        rec: dict[str, Any] = {"batch": [], "stage_sec": [], "steal": []}
        rec["canary"] = canary_seconds()
        t_start = time.perf_counter()
        last = None
        while len(rec["batch"]) < MIN_ITERS or time.perf_counter() - t_start < seconds:
            last = None  # release the previous run's cached stages
            steal0 = system_cpu_sample()["steal"]
            t, stage_sec, last = self.batch()
            rec["steal"].append(system_cpu_sample()["steal"] - steal0)
            rec["batch"].append(t)
            rec["stage_sec"].append(stage_sec)
        # digesting the last in-memory output recomputes its expansion tail;
        # once per run keeps that cost out of the iteration count
        self._check_digest(last, "batch")
        return rec

    # -- reports -------------------------------------------------------------
    def report(self, rec: dict[str, Any], setup_s: float) -> None:
        out, batch = self.out, rec["batch"]
        walls = [t.wall for t in batch]
        # best of n: the host steals CPU in episodes of a minute or more, and
        # a stolen second only ever adds time, so the fastest run is the one
        # least disturbed (the median is printed beside it)
        batch_s = min(walls)
        out.metrics = {
            "batch_s": (batch_s, "s"),
            "turns_per_s": (self.inp.n_turns / batch_s, "turns/s"),
            "cpu_s": (min(t.cpu for t in batch), "s"),
            "peak_rss_mb": (_median([t.rss for t in batch]) / 2**20, "MB"),
            "setup_s": (setup_s, "s"),
            "pairwise_f1": (self.f1, "ratio"),
        }
        out.lines += [
            f"workload {self.name} seed {self.seed}: {self.inp.n_turns} turns, "
            f"{len(self.inp.surfaces)} alias surfaces",
            f"batch_s samples (n={len(walls)}, min reported, median "
            f"{_median(walls):.3f}): {_r(walls, 3)}",
            f"cpu_s samples (min reported): {_r([t.cpu for t in batch], 2)}",
            f"peak_rss_mb: {_r([t.rss / 2**20 for t in batch], 0)}",
        ]
        # in-pipeline {stage}_sec as LinkagePipeline reports it, to set
        # against the traced layer spans
        for s in STAGES:
            out.lines.append(
                f"LinkagePipeline.metrics['{s}_sec']: {[d[s] for d in rec['stage_sec']]}"
            )
        out.lines.append(
            f"box: canary_s {rec['canary']} before the timed phase, "
            f"host steal per timed run {_r(rec['steal'], 2)} s"
        )

    def measure_traced(self, seconds: float, setup_s: float) -> None:
        """Untraced reference runs (for pipeline.* and the tracing overhead)
        around one traced layer-by-layer run, then the checkpoint layer."""
        out, spark = self.out, self.spark
        steal0 = system_cpu_sample()["steal"]
        canary = canary_seconds()
        plain: list[tuple[Timed, dict[str, float]]] = [self.batch()[:2]]
        self.out.attempted += 1
        counts, tr, cpu = traced_run(self)
        if counts["digest"] != self.want:
            out.fail(f"traced run: digest {counts['digest']} != checked output {self.want}")
        t_start = time.perf_counter()
        while len(plain) < 2 or time.perf_counter() - t_start < seconds / 2:
            plain.append(self.batch()[:2])
        ck = self.checkpoint_layer()
        steal = system_cpu_sample()["steal"] - steal0

        stages, jobs = tracing.spark_stages(spark), tracing.spark_job_times(spark)
        span = {s.name: s for s in tr.spans}
        win = {
            name: tracing.window_stats(stages, jobs, span[name].start, span[name].end)
            for name in LAYERS
        }
        pipe_win = [tracing.window_stats(stages, jobs, t.start, t.end) for t, _ in plain]
        selfs = tracing.self_times(tr.spans)
        untraced_s = _median([t.wall for t, _ in plain])
        traced_s = span["pipeline"].duration
        n_ment = counts["mentions.rows_out"]

        def wall(n: str) -> float:
            return span[n].duration

        def cpu_d(n: str, attr: str) -> float:
            c0, c1 = cpu[n]
            return getattr(c1, attr) - getattr(c0, attr)

        m: dict[str, tuple[float, str]] = {
            "mentions.wall_s": (wall("mentions"), "s"),
            "mentions.cpu_s": (cpu_d("mentions", "total"), "s"),
            "mentions.py_cpu_s": (cpu_d("mentions", "workers"), "s"),
            "mentions.rows_in": (self.inp.n_turns, "count"),
            "mentions.rows_out": (n_ment, "count"),
            "mentions.tasks": (win["mentions"]["tasks"], "count"),
            "mentions.shuffle_write_bytes": (win["mentions"]["shuffle_write_bytes"], "bytes"),
            "surfaces.wall_s": (wall("surfaces"), "s"),
            "surfaces.rows_out": (counts["surfaces.rows_out"], "count"),
            "surfaces.dedup_ratio": (counts["surfaces.rows_out"] / max(n_ment, 1), "ratio"),
            "blocking.wall_s": (wall("blocking"), "s"),
            "blocking.cpu_s": (cpu_d("blocking", "total"), "s"),
            "blocking.keys_out": (counts["blocking.keys_out"], "count"),
            "blocking.keys_purged": (counts["blocking.keys_purged"], "count"),
            "blocking.pairs_out": (counts["blocking.pairs_out"], "count"),
            "blocking.max_block_size": (counts["blocking.max_block_size"], "count"),
            "blocking.stages": (win["blocking"]["stages"], "count"),
            "blocking.shuffle_write_bytes": (win["blocking"]["shuffle_write_bytes"], "bytes"),
            "scoring.wall_s": (wall("scoring"), "s"),
            "scoring.py_cpu_s": (cpu_d("scoring", "workers"), "s"),
            "scoring.pairs_in": (counts["blocking.pairs_out"], "count"),
            "scoring.survivor_ratio": (
                counts["scoring.survivors"] / max(counts["blocking.pairs_out"], 1), "ratio"),
            "scoring.accept_ratio": (
                counts["links"] / max(counts["scoring.survivors"], 1), "ratio"),
            "scoring.shuffle_write_bytes": (win["scoring"]["shuffle_write_bytes"], "bytes"),
            "clustering.wall_s": (wall("clustering"), "s"),
            "clustering.edges_in": (counts["links"], "count"),
            "clustering.components": (counts["clustering.components"], "count"),
            "clustering.jobs": (win["clustering"]["jobs"], "count"),
            "expand.wall_s": (wall("expand"), "s"),
            "expand.shuffle_write_bytes": (win["expand"]["shuffle_write_bytes"], "bytes"),
            "checkpoint.write_s": (ck["write_s"], "s"),
            "checkpoint.bytes_written": (ck["bytes"], "bytes"),
            "checkpoint.files": (ck["files"], "count"),
            "checkpoint.stages_resumed": (ck["resumed"], "count"),
            "checkpoint.resume_s": (ck["resume_s"], "s"),
        }
        for key, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                          ("idle_s", "s")):
            m[f"pipeline.{key}"] = (_median([w[key] for w in pipe_win]), unit)
        for s in STAGES:
            m[f"stage_sec.{s}"] = (_median([d[s] for _, d in plain]), "s")
        m.update({
            "trace.batch_s": (traced_s, "s"),
            "trace.untraced_batch_s": (untraced_s, "s"),
            "trace.overhead_s": (traced_s - untraced_s, "s"),
            "trace.pipeline_self_s": (selfs["pipeline"], "s"),
            "box.canary_s": (canary, "s"),
        })
        out.metrics = m
        layer_sum = sum(wall(n) for n in LAYERS)
        out.lines += [
            f"workload {self.name} seed {self.seed} (traced): {self.inp.n_turns} turns, "
            f"set-up {setup_s:.3f}s",
            f"untraced batch_s {_sample_note(len(plain))}: {_r([t.wall for t, _ in plain], 3)}",
            f"traced batch_s {traced_s:.3f}s, tracing overhead {traced_s - untraced_s:+.3f}s "
            f"({(traced_s - untraced_s) / untraced_s:+.1%} of untraced)",
            f"box: canary_s {canary} before the traced run, host steal {steal:.2f}s during it",
            f"driver JVM GC during the untraced runs: {_r([t.gc for t, _ in plain], 3)} s",
            "layer        wall_s  share  self_s  jobs stages  tasks  shuffle_write",
        ]
        for n in LAYERS:
            w = win[n]
            out.lines.append(
                f"{n:<12} {wall(n):6.3f} {wall(n) / layer_sum:6.1%} {selfs[n]:7.3f} "
                f"{w['jobs']:5d} {w['stages']:6d} {w['tasks']:6d} {w['shuffle_write_bytes']:14d}"
            )
        out.lines.append(
            f"pipeline self time (counting between layers) {selfs['pipeline']:.3f}s"
        )
        out.lines.append(
            "LinkagePipeline.metrics {stage}_sec (untraced) vs traced span: "
            + ", ".join(
                f"{s} {m[f'stage_sec.{s}'][0]:.2f} vs {layer}: {wall(layer):.2f}"
                for s, layer in zip(STAGES, ("mentions", "surfaces", "blocking", "scoring", "expand"))
            )
        )

    def checkpoint_layer(self) -> dict[str, float]:
        """sources.checkpoint on the durable path: a cold run's writes, then
        how many stages a resume after losing LOST_STAGES reads back, and
        how long that resume takes."""
        self.durable(resume=False)
        write_s = n_bytes = files = 0
        for stage in os.listdir(self.ckpt_dir):
            d = os.path.join(self.ckpt_dir, stage)
            man = os.path.join(d, "_MANIFEST.json")
            if not os.path.isfile(man):
                continue
            with open(man) as f:
                write_s += json.load(f)["wall_sec"]
            for fn in os.listdir(d):
                if fn.endswith(".parquet"):
                    files += 1
                    n_bytes += os.path.getsize(os.path.join(d, fn))
        kept = {
            s: os.path.getmtime(os.path.join(self.ckpt_dir, s, "_MANIFEST.json"))
            for s in STAGES if s not in LOST_STAGES
        }
        resume = self.durable(resume=True)
        resumed = sum(
            os.path.getmtime(os.path.join(self.ckpt_dir, s, "_MANIFEST.json")) == t
            for s, t in kept.items()
        )
        return {"write_s": write_s, "bytes": n_bytes, "files": files, "resumed": resumed,
                "resume_s": resume.wall}


def _r(xs: list[float], nd: int) -> list[float]:
    return [round(x, nd) for x in xs]


# -- traced run ----------------------------------------------------------------

def traced_run(b: Bench) -> tuple[dict[str, Any], tracing.Tracer, dict[str, Any]]:
    """LinkagePipeline.run's in-memory composition, layer by layer: each
    layer's output is materialized before the next starts, so each span owns
    its Spark jobs. Blocking and scoring go through the pipeline's public
    per-stage builders; counts are taken between spans."""
    spark, inp = b.spark, b.inp
    pipe = new_pipeline(spark, b.spec)
    tr = tracing.Tracer()
    cpu: dict[str, tuple[tracing.CpuSample, tracing.CpuSample]] = {}
    counts: dict[str, Any] = {}

    def layer(name: str, build: Callable[[], DataFrame]) -> DataFrame:
        c0 = b.mon.cpu()
        with tr.span(name):
            df = build().localCheckpoint(eager=True)
        cpu[name] = (c0, b.mon.cpu())
        return df

    spark.sparkContext._jvm.System.gc()
    with tr.span("pipeline"):
        m = layer("mentions", lambda: extract_mentions(
            inp.turns, inp.surfaces, with_context=False, id_bits=pipe.id_bits
        ).select("mention_id", "mention"))
        counts["mentions.rows_out"] = m.count()
        surf = layer("surfaces", lambda: _surfaces(m, inp.entities))
        counts["surfaces.rows_out"] = surf.where("is_mention").count()
        cands = layer("blocking", lambda: pipe.build_candidates_from(surf))
        counts["blocking.pairs_out"] = cands.count()
        links = layer("scoring", lambda: pipe.build_links_from(
            cands, surf, assume_partitioned=True
        ))
        counts["links"] = links.count()
        comps = layer("clustering", lambda: star_components(
            links.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        ))
        counts["clustering.components"] = comps.select("component").distinct().count()
        clusters = layer("expand", lambda: _expand(m, surf, comps))
    counts["digest"] = checks.digest(clusters)
    counts.update(_side_counts(pipe, surf, cands))
    return counts, tr, cpu


def _surfaces(m: DataFrame, entities: DataFrame) -> DataFrame:
    """LinkagePipeline.run's surfaces step: distinct mention surfaces with
    their min mention id, unioned with the entity titles, tokenized."""
    ment = m.groupBy("mention").agg(F.min("mention_id").alias("surf_min")).select(
        F.xxhash64(F.lit("surf"), "mention").alias("id"),
        F.col("mention").alias("text"),
        F.lit(True).alias("is_mention"),
        "surf_min",
    )
    ent = entities.select(
        (F.lit(ENTITY_ID_OFFSET) - F.col("entity_id")).alias("id"),
        F.lower(F.col("title")).alias("text"),
        F.lit(False).alias("is_mention"),
        F.lit(None).cast(m.schema["mention_id"].dataType).alias("surf_min"),
    )
    return ment.unionByName(ent).withColumn("tk", tokens(F.col("text")))


def _expand(m: DataFrame, surf: DataFrame, comps: DataFrame) -> DataFrame:
    """LinkagePipeline.run's expansion tail: components of linked surfaces
    mapped back to mentions, cluster id = min mention id."""
    surf_comp = comps.join(
        surf.where("is_mention").select(
            F.col("id").alias("node"), F.col("text").alias("mention"), "surf_min"
        ),
        "node",
    ).select("mention", "component", "surf_min")
    cmin = surf_comp.groupBy("component").agg(F.min("surf_min").alias("cluster_id"))
    surf_cluster = surf_comp.join(cmin, "component").select("mention", "cluster_id")
    return m.join(surf_cluster, "mention", "left").select(
        F.col("mention_id").alias("node"),
        F.coalesce(F.col("cluster_id"), F.col("mention_id")).alias("component"),
    )


def _side_counts(pipe: LinkagePipeline, surf: DataFrame, cands: DataFrame) -> dict[str, float]:
    """Counts the per-stage builders do not expose, recomputed after the
    traced run, outside every span: the blocking key table (as
    build_candidates_from keys it) and the scorer's cheap-score survivors."""
    keyed = surf.withColumn(
        "prefix_key", F.concat(F.lit("pfx|"), F.element_at(tokens(F.col("text")), 1))
    )
    keys = blocking_keys(
        keyed, id_col="id", text_col="text", bands=pipe.bands, rows=pipe.rows,
        shingle_k=pipe.shingle_k, extra_key_cols=["prefix_key"], hash_fn=xxhash64_mod,
        carry_cols=["is_mention"],
    ).localCheckpoint(eager=True)
    agg = keys.groupBy("block_key").count().agg(
        F.sum("count").alias("rows"), F.count("*").alias("keys"), F.max("count").alias("mx")
    ).collect()[0]
    purged = 0
    if pipe.max_entity_block is not None or pipe.max_key_pairs is not None:
        kept = purged_block_keys(keys, pipe.max_entity_block, pipe.max_key_pairs).count()
        purged = agg["keys"] - kept
    survivors = two_phase_scored_pairs(
        cands, surf, threshold=pipe.threshold, argmax_prune=False,
        cos_source=pipe.cos_source, assume_partitioned=True,
    ).count()
    keys.unpersist()
    return {
        "blocking.keys_out": agg["rows"],
        "blocking.keys_purged": purged,
        "blocking.max_block_size": agg["mx"],
        "scoring.survivors": survivors,
    }
