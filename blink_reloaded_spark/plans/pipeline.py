"""The flagship end-to-end linkage pipeline (SURVEY.md §7.1), each stage an
idempotent checkpointed job:

  1. mentions    — token-hash dictionary extraction from transcripts (U1)
  2. surfaces    — dedup to DISTINCT surfaces + hashed trigram encoding (U2/U3)
  3. candidates  — ONE Arrow pass over the mention surfaces probes a
                   driver-built entity key index: LSH + prefix keys ->
                   top-k entities by shared keys -> JW and cos (J7/J8, U4)
  4. links       — JVM tail: Levenshtein, token features, the combined
                   score -> per-surface argmax link (U4/W4)
  5. clusters    — large-star/small-star connected components on the surface
                   graph; linear expansion back to mentions

Mirrors the reference's DAG (`examples/zeshel/README.md:11-38`, SURVEY.md
§3.3): retrieval bounds the candidate set (O2), the cross-encoder scores
pairs, argmax picks the link, and mentions sharing a predicted entity form a
cluster (§7.0) — realized here as transitive closure over accepted
mention->entity edges, with cluster ids canonicalized to the minimum mention
id (deterministic under partitioning / row order).

The four entry points are one fuzzy-join program (blocking -> similarity ->
accept) over a shared private core: `_surfaces` (distinct surfaces +
per-surface min id), `_blocking_keys`, `_surface_clusters` + `_expand`
(min-id canonicalization and the join back onto mentions) and, for the
KB-free pair, `_kb_free_components` (self-join -> score -> match edges ->
connected components):

  run                 surfaces(+entities) -> build_candidates_from ->
                      build_links_from -> star components -> canonicalize
  run_links           run()'s stages 2-4 -> join links onto mentions
  run_kb_free         surfaces -> KB-free chain -> canonicalize
  run_kb_free_append  surfaces(state ∪ delta) -> guards -> KB-free chain
                      (new-touching pairs + state star edges) -> canonicalize

Scale notes:
* KB candidate generation is an index probe per mention surface (linear in
  Σ_key |m_k|·|e_k| probe hits, bounded by purge and the top-k), never a
  mention×mention cross product; the driver holds the entity index once
  (operators/blocking.py KNOWN LIMIT), sharded above the session's
  autoBroadcastJoinThreshold;
* entity anchors live in a disjoint negative id space so mention and entity
  ids share one node domain for clustering;
* every stage checkpoint is an idempotent table -> kill/rerun resumes
  (sources/checkpoint.py), satisfying the north_rule resume requirement.
* without a checkpoint_dir every stage boundary is an in-run cut
  (sources.checkpoint.materialize): reliable when the session sets
  `spark.checkpoint.dir`, executor-local otherwise.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blink_reloaded_spark.functions.embedding import hashed_embedding_udf
from blink_reloaded_spark.functions.hashing import xxhash64_mod
from blink_reloaded_spark.functions.text import tokens
from blink_reloaded_spark.operators.blocking import (
    PROBE_SCHEMA,
    EntityKeyIndex,
    KeySpec,
    auto_blocking_params,
    blocking_keys,
    candidate_pairs,
    mention_key_counts,
    probe_candidates,
)
from blink_reloaded_spark.operators.clustering import (
    connected_components,
    star_components,
)
from blink_reloaded_spark.operators.mentions import extract_mentions
from blink_reloaded_spark.operators.scoring import (
    DEFAULT_THRESHOLD,
    link_best,
    match_edges,
    score_probed_pairs,
    two_phase_scored_pairs,
)
from blink_reloaded_spark.sources.checkpoint import CheckpointManager, materialize

# entity anchor ids: disjoint negative id space below -1 (NIL stays -1)
ENTITY_ID_OFFSET = -1_000_000
# what build_candidates_from records about the entity index, in `metrics`
# and in the candidates checkpoint's manifest
INDEX_METRICS = ("index_keys", "index_bytes", "index_shards")


def _prefix_key(text_col: str) -> F.Column:
    """Cheap second key family: first token. Guarantees head-word
    abbreviation candidates ("acme" -> "acme corp") that MinHash bands can
    miss at low shingle-jaccard; hot first-token keys are handled by the
    skew machinery, not by dropping the key. NULL for a text with no
    [a-z0-9] token (e.g. "中文"; blocking_keys drops NULL extra keys) —
    try_element_at, since element_at fails on an empty array under ANSI."""
    return F.concat(F.lit("pfx|"), F.try_element_at(tokens(F.col(text_col)), F.lit(1)))


@dataclass
class LinkagePipeline:
    spark: SparkSession
    checkpoint_dir: str | None = None
    # recall-oriented blocking: single-row bands over 2-char shingles give
    # per-band hit prob = shingle-jaccard; 12 bands -> recall 1-(1-j)^12.
    # 2-shingles keep jaccard high under multi-token typos (j("feji inc",
    # "fejmi imnc") = 0.45 at k=2 vs 0.17 at k=3 -> miss prob 0.08% vs 11%).
    # SCALE NOTE: with a large entity catalogue the k=2 key space (~1.3k
    # distinct shingles) makes band buckets hot — use LinkagePipeline.tuned
    # (blocking.auto_blocking_params + block purging) above ~2*10^4 entities.
    bands: int = 12
    rows: int = 1
    shingle_k: int = 2
    threshold: float = DEFAULT_THRESHOLD
    max_block: int = 1000
    # entity-side block purge bound + per-mention candidate budget for the
    # KB join (None = off); set by LinkagePipeline.tuned for large
    # catalogues — see blocking.purged_block_keys
    max_entity_block: int | None = None
    max_candidates_per_mention: int | None = None
    max_key_pairs: int | None = None
    # counter metrics per stage (north_rule). collect_metrics=False skips the
    # per-stage count() actions — use for throughput benchmarking where the
    # extra jobs would dominate small-input wall time.
    collect_metrics: bool = True
    # mention_id width (VERDICT r2 #7): 64 = xxhash64 long (test scale);
    # 128 = double-seeded 32-char hex string, collision-safe at 10^12
    # mentions (see operators/mentions.extract_mentions ID NOTE)
    id_bits: int = 64
    # cos term sourcing of the KB-FREE chain (r5, VERDICT r4 #4):
    # "recompute" re-derives the embedding dot product from the surviving
    # pair's TEXTS (bit-identical — this pipeline's vectors ARE
    # hashed_embedding_udf(text)) and removes the two vector joins + four
    # exchanges from that chain AND the whole vec column from the surfaces
    # stage (~1KB/row off the stage checkpoint). "join" restores the
    # stored-vector path there. The KB join (run, run_links) always
    # computes cos from the texts inside its probe kernel.
    cos_source: str = "recompute"
    metrics: dict[str, Any] = field(default_factory=dict)

    # ---- the shared surface-graph core (module docstring) -----------------

    def _extract(
        self,
        transcripts: DataFrame,
        surfaces: list[str] | None,
        mentions: DataFrame | None,
        **kw: Any,
    ) -> DataFrame:
        """The caller's pre-extracted mentions, else dictionary extraction
        (U1) over `transcripts`."""
        if mentions is not None:
            return mentions
        if surfaces is None:
            raise ValueError("need surfaces or mentions")
        return extract_mentions(
            transcripts, surfaces, with_context=False, id_bits=self.id_bits, **kw
        )

    def _surfaces(
        self, df: DataFrame, cand: str, entities: DataFrame | None = None
    ) -> DataFrame:
        """Surface node table (id, text, is_mention, surf_min, tk[, vec])
        from a (mention, `cand`) frame in ONE groupBy(mention): the dedup to
        distinct surfaces and surf_min = min(cand) share the pass (the
        cluster canonicalization needs the per-surface min; a second
        aggregation would re-scan the corpus-sized mention frame).
        `cand` is a mention id, or — for state surfaces in the append — the
        surface's cluster_id, which IS the min mention id of its old
        cluster, so min(surf_min) per component stays the new cluster id.
        `entities` unions the catalogue titles in as anchor nodes
        (is_mention false, surf_min NULL)."""
        out = (
            df.groupBy("mention")
            .agg(F.min(cand).alias("surf_min"))
            .select(
                F.xxhash64(F.lit("surf"), "mention").alias("id"),
                F.col("mention").alias("text"),
                F.lit(True).alias("is_mention"),
                "surf_min",
            )
        )
        if entities is not None:
            out = out.unionByName(
                entities.select(
                    (F.lit(ENTITY_ID_OFFSET) - F.col("entity_id")).alias("id"),
                    F.lower(F.col("title")).alias("text"),
                    F.lit(False).alias("is_mention"),
                    # type follows the mention id (long, or string in
                    # id_bits=128 mode — a hard "long" cast here corrupted
                    # the union's column type for 128-bit ids)
                    F.lit(None)
                    .cast(df.schema[cand].dataType)
                    .alias("surf_min"),
                )
            )
        # tokenize ONCE per distinct surface; the scorer otherwise re-runs
        # the normalize regex several times per candidate PAIR. Stored
        # vectors only exist on the join cos path — in recompute mode
        # (default) the scorer derives cos from pair texts, so the surfaces
        # stage skips the embedding UDF pass and its ~1KB/row.
        out = out.withColumn("tk", tokens(F.col("text")))
        if self.cos_source == "join":
            out = out.withColumn("vec", hashed_embedding_udf(F.col("text")))
        return out

    def _blocking_keys(
        self, surf: DataFrame, carry_cols: list[str] | None = None
    ) -> DataFrame:
        """(id, [carry_cols...], block_key): MinHash-LSH band keys plus the
        first-token prefix key over a surface node table. The base hash is
        xxhash64_mod: the pipeline's contract is F1, not the DuckDB-portable
        poly_hash values the oracle-checked queries keep."""
        return blocking_keys(
            surf.withColumn("prefix_key", _prefix_key("text")),
            id_col="id", text_col="text", bands=self.bands, rows=self.rows,
            shingle_k=self.shingle_k, extra_key_cols=["prefix_key"],
            hash_fn=xxhash64_mod, carry_cols=carry_cols,
        )

    def _kb_free_components(
        self,
        surf: DataFrame,
        keys: DataFrame,
        threshold: float,
        new_ids: DataFrame | None = None,
        star: DataFrame | None = None,
    ) -> DataFrame:
        """KB-free edge chain: skew-bounded self-join pairs over `keys` ->
        two-phase scoring -> every edge over `threshold` -> connected
        components over all surfaces of `surf`. The append passes `new_ids`
        (score only pairs touching a new surface; the filter runs AFTER
        candidate_pairs so block-cap decisions are the full-run ones) and
        `star` (edges encoding the state's closure)."""
        pairs = candidate_pairs(keys, max_block=self.max_block)
        if new_ids is not None:
            na = new_ids.select(F.col("id").alias("a"), F.lit(1).alias("new_a"))
            nb = new_ids.select(F.col("id").alias("b"), F.lit(1).alias("new_b"))
            pairs = (
                pairs.join(na, "a", "left")
                .join(nb, "b", "left")
                .where(F.col("new_a").isNotNull() | F.col("new_b").isNotNull())
                .select("a", "b")
            )
        # argmax_prune=False: match_edges consumes the FULL accepted-edge
        # set, so only the threshold-bound prune is lossless here (the
        # argmax bound would drop threshold-passing non-best edges and
        # change the transitive closure)
        scored = two_phase_scored_pairs(
            pairs, surf,
            threshold=threshold, argmax_prune=False, cos_source=self.cos_source,
        )
        edges = match_edges(scored, threshold)
        if star is not None:
            edges = edges.unionByName(star)
        return connected_components(materialize(edges), nodes=surf.select("id"))

    @staticmethod
    def _surface_clusters(comps: DataFrame, surf: DataFrame) -> DataFrame:
        """(mention=surface, cluster_id) for every mention surface in a
        component, cluster_id = min mention id of the component with ZERO
        passes over the mention set: min-per-component = min over the
        component's surfaces of surf_min. Only MENTION surfaces map back —
        an exact alias equals its entity title, and entity-anchor ids must
        never become cluster ids. All surface-cardinality; AQE picks the
        join strategies (no broadcast hints on unbounded sides)."""
        surf_comp = comps.join(
            surf.where("is_mention").select(
                F.col("id").alias("node"),
                F.col("text").alias("mention"),
                "surf_min",
            ),
            "node",
        ).select("mention", "component", "surf_min")
        cmin = surf_comp.groupBy("component").agg(
            F.min("surf_min").alias("cluster_id")
        )
        return surf_comp.join(cmin, "component").select("mention", "cluster_id")

    @staticmethod
    def _expand(mentions: DataFrame, surf_cluster: DataFrame) -> DataFrame:
        """The ONE join back onto (mention_id, mention) rows -> (node,
        cluster_id); mentions of surfaces outside every component stay
        singletons (FIXTURES F5: the reference's NIL / no-prediction case)."""
        return mentions.join(surf_cluster, "mention", "left").select(
            F.col("mention_id").alias("node"),
            F.coalesce(F.col("cluster_id"), F.col("mention_id")).alias(
                "cluster_id"
            ),
        )

    @classmethod
    def tuned(
        cls, spark: SparkSession, n_catalogue: int, **overrides: Any
    ) -> "LinkagePipeline":
        """Pipeline with blocking params chosen from the entity-catalogue
        size (blocking.auto_blocking_params) and block purging enabled above
        the small-catalogue regime. Explicit kwargs override the tuning."""
        params: dict[str, Any] = dict(auto_blocking_params(n_catalogue))
        if n_catalogue >= 20_000:
            # comparison-level purge (see purged_block_keys for the
            # measured pairs-vs-recall curve) + the reference's top-k bound
            # (main_dense.py:252 keeps top_k=100 before the cross-encoder;
            # 16 suffices when ranked by shared-key count: measured at 20k
            # entities, pairwise F1 0.99998 at top-16 == top-64, 3.8x
            # cheaper scoring). Cap 15k (r4, was 50k): -35% candidates wall
            # AND -60% links wall at the 20k-entity shape with the pairwise
            # F1 gate unchanged — gold pairs live on their RARE shared
            # keys, so the hot-key comparisons the cap drops are almost
            # entirely non-gold (r3 curve: 50k -> blocked recall 0.9971)
            params["max_key_pairs"] = 15_000
            params["max_candidates_per_mention"] = 16
        params.update(overrides)
        return cls(spark, **params)

    def build_candidates_from(self, surfaces_t: DataFrame) -> DataFrame:
        """Scored candidate (mention-surface, entity) pairs (a, b, jw, cos)
        from a MATERIALIZED surfaces node table (id, text, is_mention, ...):
        a driver-built block key -> entity index of the entity surfaces
        (blocking.EntityKeyIndex) -> purge -> ONE probe kernel over the
        mention surfaces that keys them, keeps the top-k entities by shared
        keys and computes jw and the raw cos (blocking.probe_candidates).
        Public so the stage can be timed/driven in isolation
        (scripts/bench_stages.py).

        The index is fetched in one JVM-only job and keyed on the driver
        with the numpy kernel the probe runs. With purge (max_entity_block
        / max_key_pairs), one more pass counts each index key's mentions
        (blocking.mention_key_counts) and the purge rule drops keys from
        the index, which purges the mention side too. `metrics` records
        index_keys, index_bytes and index_shards; the index is split into
        shards above the session's autoBroadcastJoinThreshold."""
        keyed = surfaces_t.withColumn("prefix_key", _prefix_key("text"))
        mentions, entities = keyed.where("is_mention"), keyed.where("NOT is_mention")
        spec = KeySpec.of(
            self.bands, self.rows, self.shingle_k, xxhash64_mod, ["prefix_key"]
        )
        index = EntityKeyIndex.collect(entities, spec)
        if self.max_entity_block is not None or self.max_key_pairs is not None:
            msz = mention_key_counts(mentions, index, spec)
            index = index.purged(msz, self.max_entity_block, self.max_key_pairs)
        # Spark's own parse of the conf: its default reads "10485760b"
        conf = self.spark._jsparkSession.sessionState().conf()
        shards = index.shards(conf.autoBroadcastJoinThreshold())
        self.metrics.update(
            index_keys=len(index.keys), index_bytes=index.nbytes,
            index_shards=len(shards),
        )
        cands = probe_candidates(
            mentions, shards, spec, top_k=self.max_candidates_per_mention
        )
        return cands.select("a", "b", "jw", "cos")

    def build_links_from(
        self,
        cands: DataFrame,
        surfaces_t: DataFrame,
        assume_partitioned: bool = False,
    ) -> DataFrame:
        """Surface->entity argmax links (a, b, score, surf_text) from the
        candidates stage's (a, b, jw, cos) + the surfaces node table: a
        JVM-only tail (scoring.score_probed_pairs joins both sides' text
        and tokens, adds Levenshtein, Jaccard and containment, and rounds
        cos) -> threshold argmax (link_best). The surface text rides
        link_best's max struct, so no re-attachment join. Public for
        isolated stage timing.

        `assume_partitioned` is accepted for existing callers and no
        longer changes the plan: the tail has no pair exchange to skip."""
        scored = score_probed_pairs(
            cands,
            surfaces_t.where("is_mention"),
            surfaces_t.where("NOT is_mention"),
        )
        best = link_best(scored, self.threshold, carry=["a_text"])
        return best.select(
            "a", "b", "score", F.col("a_text").alias("surf_text")
        )

    def _fingerprint(self, surfaces: list[str] | None) -> str:
        """Digest of the params + surface dictionary that determine stage
        output (given the same input tables)."""
        import hashlib
        import json as _json

        src = _json.dumps(
            {
                "bands": self.bands,
                "rows": self.rows,
                "shingle_k": self.shingle_k,
                "threshold": self.threshold,
                "max_block": self.max_block,
                "max_entity_block": self.max_entity_block,
                "max_candidates_per_mention": self.max_candidates_per_mention,
                "max_key_pairs": self.max_key_pairs,
                "id_bits": self.id_bits,
                # schema-affecting: a surfaces checkpoint written without
                # stored vectors must not be resumed by a join-mode run
                "cos_source": self.cos_source,
                # r8: surfaces checkpoint carries surf_min — a pre-r8
                # checkpoint dir must not resume into this code
                "surfaces_schema": 2,
                # the candidates checkpoint is the probe kernel's output:
                # a dir written under another kernel schema rebuilds
                "candidates_schema": PROBE_SCHEMA.simpleString(),
                "surfaces": sorted(surfaces) if surfaces else None,
            },
            sort_keys=True,
        )
        return hashlib.sha256(src.encode()).hexdigest()[:16]

    def run(
        self,
        transcripts: DataFrame,
        entities: DataFrame,
        surfaces: list[str] | None = None,
        mentions: DataFrame | None = None,
    ) -> DataFrame:
        """Run end-to-end; returns (node, component) over mention ids —
        i.e. (mention_id, cluster_id), cluster ids = min mention id.

        `mentions` may be supplied directly (pre-extracted, e.g. the gold
        fixture); otherwise `surfaces` drives dictionary extraction (U1).
        """
        ckpt = (
            CheckpointManager(self.spark, self.checkpoint_dir)
            if self.checkpoint_dir
            else None
        )
        # stale-resume guard: any param/dictionary change invalidates ALL
        # stage checkpoints under this dir (the data inputs themselves are
        # the caller's identity contract — pick a fresh checkpoint_dir or
        # run_id per input snapshot)
        fingerprint = self._fingerprint(surfaces)

        import time as _time

        def stage(name: str, build, cut: bool = True, **kw) -> DataFrame:
            t0 = _time.time()
            if ckpt:
                out = ckpt.stage(name, build, fingerprint=fingerprint, **kw)
            else:
                # no checkpoint store: still materialize each stage once —
                # downstream actions (stage metrics, CC iterations) must not
                # re-execute the upstream DAG (the scorer in particular).
                # cut=False for a stage nothing re-consumes (the
                # final output when metrics are off): the caller's single
                # action would otherwise pay a full extra write+read.
                out = build()
                if cut:
                    out = materialize(out)
            self.metrics[f"{name}_sec"] = round(_time.time() - t0, 2)
            return out

        # counter metrics are DEFERRED and collected in ONE union-of-
        # aggregates job at the end (VERDICT r2 #3: a count() per stage was
        # five job barriers of pure fixed latency; every counted frame is a
        # materialized stage checkpoint, so the single job reads cached data)
        pending_counts: list[tuple[str, DataFrame]] = []

        def count_metric(key: str, df: DataFrame) -> None:
            if self.collect_metrics:
                pending_counts.append((key, df))

        def flush_counts() -> None:
            if not pending_counts:
                return
            aggs = [
                df.agg(F.count("*").alias("n")).select(
                    F.lit(key).alias("k"), "n"
                )
                for key, df in pending_counts
            ]
            one = aggs[0]
            for a in aggs[1:]:
                one = one.unionByName(a)
            for r in one.collect():
                self.metrics[r["k"]] = r["n"]

        # -- 1. mentions ----------------------------------------------------
        def build_mentions() -> DataFrame:
            m_full = self._extract(transcripts, surfaces, mentions)
            if ckpt is None:
                # No resume store: run() only ever consumes (mention_id,
                # mention) downstream (m_slim), so materialize the slim
                # projection — the conv/turn/position columns exist for the
                # checkpoint artifact's resume contract and would double the
                # block-store bytes here for nothing. Measured (5.9M turns,
                # pinned cores): the stage-materialization java CPU is the
                # part of the mentions stage that inflates most from 2->8
                # cores (+6s@2 vs +11s@8 over a noop sink), so halving the
                # stored bytes directly improves scaling efficiency.
                return m_full.select("mention_id", "mention")
            return m_full

        m = stage("mentions", build_mentions, inputs=["transcripts"])
        count_metric("mentions", m)
        # downstream stages only need (mention_id, mention) — never ship the
        # context strings through shuffles / the block store (column pruning
        # the reference does by hand at O4; here it's an explicit projection
        # because the checkpoint boundary would otherwise materialize all
        # columns)
        m_slim = m.select("mention_id", "mention")

        # -- 2. surfaces (dedup + encode) --------------------------------------
        # The scorer is a pure function of surface text (the determinism /
        # F1-parity requirement, SURVEY §7.3e), so blocking/scoring/linking
        # run once per DISTINCT surface, not once per mention — the same
        # precompute-and-reuse move the reference makes for entity encodings
        # (O1, main_dense.py:103-105). With zipfian surface frequencies at
        # 10^12 turns this collapses the heavy stages by orders of magnitude;
        # it is also the first skew fix: the hottest surface becomes ONE row.
        def build_surfaces() -> DataFrame:
            return self._surfaces(m_slim, "mention_id", entities)

        surfaces_t = stage("surfaces", build_surfaces, inputs=["mentions", "entities"])
        count_metric("distinct_surfaces", surfaces_t)

        # -- 3. candidates (mention surfaces probe the entity key index) ---------
        def build_candidates() -> DataFrame:
            return self.build_candidates_from(surfaces_t)

        # candidates is ALWAYS materialized (r3): the links stage and the
        # candidate_pairs count both read it, and the cut keeps the probe
        # kernel (the stage's whole Python cost) from running for each
        cands = stage(
            "candidates",
            build_candidates,
            inputs=["surfaces"],
            metrics_fn=lambda: {k: self.metrics[k] for k in INDEX_METRICS},
        )
        count_metric("candidate_pairs", cands)

        # -- 4. scoring + argmax link (surface level) ---------------------------
        def build_links() -> DataFrame:
            # the candidates carry jw and cos from the probe kernel, so the
            # links stage is JVM-only: the text features, the score and the
            # argmax (build_links_from)
            return self.build_links_from(cands, surfaces_t)

        links = stage("links", build_links, inputs=["candidates", "surfaces"])
        count_metric("links", links)

        # -- 5. clustering -----------------------------------------------------
        def build_clusters() -> DataFrame:
            # CC runs on the SURFACE graph (surface -> entity link edges) —
            # provably equivalent to mention-level closure: mentions of the
            # same linked surface connect through the entity anchor, and
            # mentions of unlinked surfaces have no edges (singletons). The
            # expansion to mentions is one broadcast join + one groupBy —
            # mention-level cost is two linear shuffles, never log-rounds of
            # 10^12-edge CC iterations.
            edges = links.select(F.col("a").alias("src"), F.col("b").alias("dst"))
            # nodes=None: only LINKED surfaces get components — mentions of
            # unlinked surfaces must stay singletons (FIXTURES F5: NIL
            # mentions are singletons, the reference's no-prediction case).
            # The graph is a star forest by construction (link_best emits at
            # most ONE entity per surface), so components collapse to one
            # aggregation — no log-round CC loop (star_components docstring)
            comps = star_components(edges)
            return self._expand(m_slim, self._surface_clusters(comps, surfaces_t))

        clusters = stage(
            "clusters",
            build_clusters,
            cut=self.collect_metrics,
            inputs=["links", "mentions"],
        )
        if self.collect_metrics:
            count_metric("clusters", clusters.select("cluster_id").distinct())
        flush_counts()
        return clusters.select("node", F.col("cluster_id").alias("component"))

    def run_links(
        self,
        transcripts: DataFrame,
        entities: DataFrame,
        surfaces: list[str] | None = None,
        mentions: DataFrame | None = None,
    ) -> DataFrame:
        """Mention -> entity links only: (mention_id, conv_id, turn_idx,
        entity_id, score). The stage the STREAMING incremental linker
        appends per micro-batch (streaming/incremental.py): a link is a
        pure function of the surface text and the (static) catalogue, so
        the output is batch-partitioning-invariant — unlike run()'s
        cluster ids (= min mention id per component), which depend on
        which mentions share a batch. Unlinked (NIL) mentions get
        entity_id = -1, score null (the reference's no-prediction case).

        run()'s stages 2-4 (same surfaces, candidates and links builders,
        materialized the same way, no checkpoint store) plus one join of
        the surface links back onto the mentions.
        """
        m = self._extract(transcripts, surfaces, mentions).select(
            "mention_id", "conv_id", "turn_idx", "mention"
        )
        surf = materialize(self._surfaces(m, "mention_id", entities))
        cands = materialize(self.build_candidates_from(surf))
        surf_link = self.build_links_from(cands, surf).select(
            F.col("surf_text").alias("mention"),
            (F.lit(ENTITY_ID_OFFSET) - F.col("b")).alias("entity_id"),
            "score",
        )
        return m.join(surf_link, "mention", "left").select(
            "mention_id",
            "conv_id",
            "turn_idx",
            F.coalesce(F.col("entity_id"), F.lit(-1)).alias("entity_id"),
            "score",
        )

    def run_kb_free(
        self,
        transcripts: DataFrame,
        surfaces: list[str] | None = None,
        mentions: DataFrame | None = None,
        threshold: float | None = None,
    ) -> DataFrame:
        """KB-free matching (SURVEY §7.0: the clustering stage generalizes
        beyond KB linking): no entity catalogue — candidate pairs come from
        the skew-bounded LSH SELF-join over distinct surfaces, accepted
        surface-surface edges transitively cluster, and mentions expand
        linearly. Returns (node=mention_id, component=cluster id = min
        mention id). Unlike `run`, identical surfaces always co-cluster
        (there is no gold KB to declare them NIL) — the exact-dedup
        semantics of KB-free ER.
        """
        thr = self.threshold if threshold is None else threshold
        # materialize only the consumed projection (same rationale as
        # run()'s mentions stage: the conv/turn/position columns are resume
        # artifacts) — read by the surfaces pass and the final expansion
        m_slim = materialize(
            self._extract(transcripts, surfaces, mentions).select(
                "mention_id", "mention"
            )
        )
        surf = materialize(self._surfaces(m_slim, "mention_id"))
        comps = self._kb_free_components(surf, self._blocking_keys(surf), thr)
        return self._expand(m_slim, self._surface_clusters(comps, surf)).select(
            "node", F.col("cluster_id").alias("component")
        )

    def run_kb_free_append(
        self,
        new_transcripts: DataFrame,
        state: DataFrame,
        surfaces: list[str] | None = None,
        mentions: DataFrame | None = None,
        threshold: float | None = None,
        output: str = "full",
        surface_state: DataFrame | None = None,
    ) -> DataFrame:
        """Append-mode KB-free clustering (VERDICT r5 #5a at pipeline
        level; the oracle-checked query form is queries.er05): merge a NEW
        batch of transcripts into the cluster state of a previous
        `run_kb_free` WITHOUT rescoring the old corpus against itself.

        `state` is (mention_id long, mention string, cluster_id long) —
        the previous run's (node, component) joined back to its mention
        surfaces (the natural sink schema; `cluster_state` below builds
        it). Returns the same (node, component) shape as `run_kb_free` on
        old ∪ new mentions.

        How: the state enters as |old distinct surfaces| star edges (every
        old surface -> its cluster's min surface id; no rescoring), and
        the pair scorer runs ONLY on candidate pairs touching a genuinely
        new surface. The LSH self-join runs over the full surface set —
        that is what makes the cap decisions, and hence the clustering,
        batch-invariant — but that join is skinny key tables; at 10^12
        turns the delta cost is |new surfaces x blockmates|, not
        corpus-quadratic. Cluster ids need no mention-level pass: a state
        surface's candidate min is its cluster_id (the min mention id of
        its old cluster), a delta surface's is its min new mention id, and
        the new cluster id is the min over the component (see _surfaces).

        EXACTNESS SCOPE (ADVICE r6): the result is IDENTICAL to a
        full-batch re-run — mention ids are content-hashed
        (batch-invariant), pair scores are pure functions of the two
        surfaces, and NEW-touching pairs come from blocking over the SAME
        union frame the re-run would block — **provided no block holding
        >= 2 state surfaces exceeds `max_block` in the union run**.
        Appending only ever GROWS blocks, so union-under-cap implies the
        base run fully paired that block too and the star edges encode
        exactly the pairs the re-run would score. A block that CROSSES the
        cap, however, switches to salted sorted-neighborhood pairing whose
        old-old pair subset depends on block size/composition: the state
        may then preserve base-run merges the re-run's capped pairing
        would drop (the append result is a superset clustering there —
        monotone, never a split, but not bit-equal).

        Two guards ALWAYS run, in one union-of-aggregates job over
        surface-cardinality frames, before any output is produced:
        * cap invariant — counts exactly the risky blocks above (union
          size > max_block with >= 2 old members) into
          metrics["append_capped_old_blocks"] and warns when non-zero, so
          where caps bite the approximation is DECLARED per run;
        * state validity (VERDICT r6 #4) — a corrupted state sink, one
          surface mapped to two cluster_ids, would silently weld both
          clusters together through that surface's two star edges. In
          kb-free mode (surface -> cluster) is functional by construction,
          so a violation is garbage input: raise, don't merge.

        `output` picks which STATE rows are re-emitted; every delta mention
        is always emitted:
        * "full" (default): every state row, so the result is (node,
          component) over old ∪ new mentions — the run_kb_free-compatible
          shape the equivalence test compares bit-for-bit. Linear in the
          corpus by construction, so at 10^12 turns it is NOT the
          production append.
        * "delta": the UPSERT — only old mentions of surfaces whose
          cluster_id changed (new surfaces, or old ones whose cluster
          merged into a lower-min one). Rows absent = unchanged; applying
          the upsert to the state reproduces output="full" exactly (pinned
          by test). The mention-level state is touched by one
          column-pruned filter scan.

        `surface_state` (optional): the (mention=surface, cluster_id)
        PROJECTION of the state — `surface_cluster_state` builds it; a
        production job sinks it alongside the mention-level state (it is
        surface-cardinality). When given, every surface-level derivation
        (the union surface set, the star edges, the guards, the
        changed-surface diff) reads it instead of re-deduplicating the
        corpus-sized state. Pass it WITH output="delta" for the genuinely
        delta-shaped append. It must come from the same run's sink as
        `state`; the validity guard checks it the same way.
        """
        if output not in ("full", "delta"):
            raise ValueError(f"output must be 'full' or 'delta', got {output!r}")
        thr = self.threshold if threshold is None else threshold
        # partitioning="auto" (coalesce, no exchange): a delta batch is
        # small relative to the session's task grid, and measured (r7,
        # 200k turns, 32 cores) the round-robin exchange plus the extra
        # Arrow tasks billed 27 CPU-s where the same extraction over
        # coalesced input splits billed 10. Materialized: read by the
        # surfaces pass and the expansion.
        m_new = materialize(
            self._extract(
                new_transcripts, surfaces, mentions, partitioning="auto"
            ).select("mention_id", "mention")
        )
        # (mention, sid, cluster_id) per state surface: the sunk projection
        # when given, else derived by deduplicating the corpus-sized state
        # (one scan). Materialized for its many consumers (surfaces, guards,
        # new-surface anti-join, star edges, the changed-surface diff).
        old = materialize(
            (surface_state if surface_state is not None else state)
            .select("mention", "cluster_id")
            .distinct()
            .withColumn("sid", F.xxhash64(F.lit("surf"), "mention"))
        )
        surf = materialize(
            self._surfaces(
                old.select("mention", F.col("cluster_id").alias("cand"))
                .unionByName(
                    m_new.select("mention", F.col("mention_id").alias("cand"))
                ),
                "cand",
            )
        )
        # materialized once: the cap guard and candidate_pairs would
        # otherwise each re-run the MinHash keying subtree
        keys = materialize(self._blocking_keys(surf))

        old_ids = old.select(F.col("sid").alias("id")).distinct()
        capped = (
            keys.join(old_ids.withColumn("__old", F.lit(1)), "id", "left")
            .groupBy("block_key")
            .agg(F.count("*").alias("n"), F.count("__old").alias("n_old"))
            .where((F.col("n") > self.max_block) & (F.col("n_old") >= 2))
            .agg(F.count("*").alias("n"))
            .select(F.lit("capped").alias("k"), "n")
        )
        conflicted = (
            old.groupBy("sid")
            .agg(F.count_distinct("cluster_id").alias("nc"))
            .where(F.col("nc") > 1)
            .agg(F.count("*").alias("n"))
            .select(F.lit("conflicted").alias("k"), "n")
        )
        res = {r["k"]: r["n"] for r in capped.unionByName(conflicted).collect()}
        if res["conflicted"]:
            raise ValueError(
                f"malformed append state: {res['conflicted']} surface(s) map "
                "to more than one cluster_id — the state sink is corrupted "
                "(or was not produced by run_kb_free); appending it would "
                "silently weld those clusters together"
            )
        self.metrics["append_capped_old_blocks"] = res["capped"]
        if res["capped"]:
            import warnings

            warnings.warn(
                f"append-mode exactness scope exceeded: {res['capped']} "
                f"block(s) holding >=2 state surfaces are over "
                f"max_block={self.max_block} in the union run — state merges "
                "inside them may not match a full-batch recompute (monotone "
                "superset, never a split; see run_kb_free_append docstring)",
                stacklevel=2,
            )

        # star edges: every old surface -> its cluster's representative
        # surface (min surface id)
        rep = old.groupBy("cluster_id").agg(F.min("sid").alias("rep"))
        star = old.join(rep, "cluster_id").select(
            F.col("sid").alias("src"), F.col("rep").alias("dst")
        )
        comps = self._kb_free_components(
            surf, keys, thr,
            new_ids=surf.select("id").join(old_ids, "id", "left_anti"),
            star=star,
        )
        # surface -> new cluster id, materialized for its consumers (the
        # changed-surface diff and the expansion)
        surf_cluster = materialize(self._surface_clusters(comps, surf))
        old_rows = state.select("mention_id", "mention")
        if output == "delta":
            changed = (
                surf_cluster.join(
                    old.select("mention", F.col("cluster_id").alias("old_cid")),
                    "mention",
                    "left",
                )
                .where(
                    F.col("old_cid").isNull()
                    | (F.col("old_cid") != F.col("cluster_id"))
                )
                .select("mention")
            )
            # one column-pruned filter scan of the state — the delta-shaped
            # write: |changed surfaces' members|
            old_rows = old_rows.join(changed, "mention", "left_semi")
        # a delta mention re-ingesting an existing mention_id appears in
        # both branches as the SAME row (same surface, same cluster) — a
        # whole-row distinct drops it
        return (
            self._expand(m_new.unionByName(old_rows), surf_cluster)
            .select("node", F.col("cluster_id").alias("component"))
            .distinct()
        )

    @staticmethod
    def surface_cluster_state(state: DataFrame) -> DataFrame:
        """(mention=surface, cluster_id) projection of a cluster_state
        table — the surface-cardinality companion a production job sinks
        alongside the mention-level state so `run_kb_free_append` never
        has to re-deduplicate the corpus to recover the surface set."""
        return state.select("mention", "cluster_id").distinct()

    @staticmethod
    def cluster_state(clusters: DataFrame, mentions: DataFrame) -> DataFrame:
        """Build `run_kb_free_append`'s state table from a run's output:
        (mention_id, mention, cluster_id) — the schema a production job
        sinks after every batch and reads back before the next."""
        return clusters.join(
            mentions.select(F.col("mention_id").alias("node"), "mention"), "node"
        ).select(
            F.col("node").alias("mention_id"),
            "mention",
            F.col("component").alias("cluster_id"),
        )
