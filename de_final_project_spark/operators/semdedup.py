"""SemDeDup: semantic deduplication by cluster-then-prune.

The published recipe (Abbas et al., "SemDeDup: Data-efficient learning
at web-scale through semantic deduplication", 2023): k-means-cluster
the embedding space, then compare pairs ONLY within a cluster and drop
all but one of each near-identical set. Clustering is what makes the
problem tractable — pair cost falls from O(n²) to O(Σ cluster²), and
the cluster count K scales WITH the corpus so cluster sizes (and thus
per-cluster pair cost) stay bounded: at 100 TB you run K ~ n/10⁴, the
assignment is one broadcast-centroid projection per vector, and the
pair stage is an equi-join on cluster id — never an all-pairs shuffle.

This implementation composes two existing exact primitives so the
whole pipeline has a bit-exact cross-engine oracle:

- the fixed-point integer Lloyd trainer (operators/kmeans.py) — the
  oracle replays the identical iterations as generated CTEs;
- the normalize-then-dot cosine with round(..., 6) (operators/
  similarity.py) — the oracle restates the identical float arithmetic.

Keep rule (deterministic variant of the paper's one-per-group): a
vector is DROPPED iff some same-cluster vector with a SMALLER vec_id
scores >= the threshold against it — the smallest id in each semantic
neighborhood survives, the same canonical-winner discipline as the
MinHash cluster keep rule (operators/neardup.py).

Caveat inherited from the method itself: near-duplicates split across
two clusters are not compared (the paper accepts this recall loss;
raising K trades recall for cost). The exact baseline twin is
embedding_neardup_exact.

K is corpus-adaptive (operators/kmeans.py choose_k: clamp(ceil(n /
256), K_MIN, K_MAX) — since round 11 K_MAX is 4096 because centroids
are table-backed, so TARGET_CLUSTER_SIZE is the binding constraint at
every realistic corpus), which is what keeps the within-cluster pair
stage
~LINEAR in n (n·target pairs) instead of O(n²/const) — under the old
fixed K=8 this operator measured 8.6× wall at 10× data; with adaptive
K it measures 3.7×, and the residual is the K-RAMP itself (K grew
8→64 across that window, so the n·K assignment did 80× the work; past
K_MAX the assignment is O(n·K_MAX), linear). Training is SAMPLED
(train_kmeans_sampled: first min(n, 64·K) vectors) so the Lloyd
iterations cost O(K²) rather than KMEANS_ITERS extra O(n·K) passes.
The max-cluster guard below stays as the backstop against a
degenerate clustering, not as the scaling mechanism.

Reference analog: none — extension surface (training-data pipeline
ops).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from de_final_project_spark.operators.kmeans import (
    K_MAX,
    K_MIN,
    TARGET_CLUSTER_SIZE,
    SCALE,
    TRAIN_POINTS_PER_CENTROID,
    _assign,
    _kmeans_sql,
    train_kmeans_sampled,
)
from de_final_project_spark.operators.similarity import unit_vectors
from de_final_project_spark.session import scoped_persist
from de_final_project_spark.sources.readers import read_testdata

SEMDEDUP_COSINE_THRESHOLD = 0.4

# Per-cluster size bound: pair cost within a cluster is quadratic, so a
# degenerate clustering (everything in one cell) must refuse loudly
# rather than silently going O(n²). Conf-raisable like the exact
# baseline guard. At production K ~ n/10⁴ the bound holds by design.
MAX_CLUSTER_CONF = "spark.de_final_project.semdedupMaxCluster"
DEFAULT_MAX_CLUSTER = 100_000


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector SemDeDup verdict: (vec_id, cluster, kept). Pipeline:
    train the fixed-point k-means, assign every vector, unit-normalize
    once, equi-join pairs WITHIN clusters, drop any vector with a
    smaller-id neighbor at >= threshold cosine."""
    qdf, centroids, _cap = train_kmeans_sampled(spark, sf_dir)
    assigned = _assign(qdf, centroids).select(
        "vec_id", F.col("cluster").cast("long").alias("cluster")
    )
    sizes = assigned.groupBy("cluster").count()
    limit = int(
        spark.conf.get(MAX_CLUSTER_CONF, str(DEFAULT_MAX_CLUSTER))
    )
    worst = sizes.agg(F.max("count")).first()[0]
    if worst and worst > limit:
        raise ValueError(
            f"semantic_dedup: largest cluster has {worst:,} vectors, over "
            f"the {limit:,} bound — the within-cluster pair stage is "
            f"quadratic. Raise K (retrain) or {MAX_CLUSTER_CONF}."
        )
    u = unit_vectors(read_testdata(spark, sf_dir, "embeddings"))
    clustered = scoped_persist(
        assigned.join(u, "vec_id").repartition(
            spark.sparkContext.defaultParallelism, "cluster"
        ),
        "semantic_dedup",
    )
    # Within-cluster pair stage as a blocked Arrow/NumPy scorer
    # (functions/pairs.py): one Arrow crossing per VECTOR, exact fold
    # dots per pair — replaces the self equi-join + interpreted HOF
    # dot, which AQE collapsed to one task (tiny shuffle input,
    # compute-heavy output). Values are bit-identical (see the module
    # exactness contract); rounding/threshold stay in Spark.
    from de_final_project_spark.functions.pairs import pair_dots_within

    dropped = (
        pair_dots_within(
            clustered.select("vec_id", "cluster", "u"), ["cluster"]
        )
        .where(F.round(F.col("_dot"), 6) >= SEMDEDUP_COSINE_THRESHOLD)
        .select(F.col("b_id").alias("vec_id"))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return clustered.join(dropped, "vec_id", "left").select(
        "vec_id",
        "cluster",
        F.col("_dropped").isNull().alias("kept"),
    )


# The oracle replays the identical Lloyd iterations (generated CTEs),
# the identical normalize-then-dot cosine, and the identical keep rule.
# Training is SAMPLED (train_kmeans_sampled): K from the FULL corpus
# count (k_where=""), iterations over the first train_cap(n, k) =
# max(k, min(n, 64·k)) vectors — both stated below as the same scalar
# subqueries the Python side computes, so the oracle tracks every
# scale factor. At the driver's sf0.01 the cap equals the corpus and
# the results are identical to full training.
_KK_SQL = (
    f"least({K_MAX}, greatest({K_MIN}, "
    f"(count(*) + {TARGET_CLUSTER_SIZE - 1}) // {TARGET_CLUSTER_SIZE}))"
)
_CAP_SQL = (
    f"(SELECT greatest({_KK_SQL}, "
    f"least(count(*), {TRAIN_POINTS_PER_CENTROID} * {_KK_SQL}))::BIGINT "
    "FROM embeddings)"
)
SEMDEDUP_KMEANS_PREFIX = _kmeans_sql(
    train_where=f"v.vec_id < {_CAP_SQL}", k_where=""
)

SEMANTIC_DEDUP_SQL = f"""{SEMDEDUP_KMEANS_PREFIX},
un AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nn
  FROM embeddings
),
uu AS (SELECT vec_id, list_transform(v, x -> x / nn) AS u FROM un),
cl AS (
  SELECT f.vec_id, f.cluster, uu.u
  FROM final_assign f JOIN uu USING (vec_id)
),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM cl a JOIN cl b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.u, b.u), 6) >= {SEMDEDUP_COSINE_THRESHOLD}
)
SELECT c.vec_id, c.cluster, d.vec_id IS NULL AS kept
FROM cl c LEFT JOIN dropped d ON c.vec_id = d.vec_id
"""


def semantic_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster curation report off the same verdict frame: cluster
    size, vectors kept, and the drop share — the number a data-mixture
    owner reads to decide whether a slice of the corpus is redundant.
    Exact integers plus one IEEE division (no rounding hazard)."""
    verdict = semantic_dedup(spark, sf_dir)
    return verdict.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("size"),
        F.sum(F.col("kept").cast("long")).alias("n_kept"),
        (
            F.sum((~F.col("kept")).cast("long")) / F.count(F.lit(1))
        ).alias("drop_share"),
    )


SEMANTIC_DEDUP_REPORT_SQL = f"""
WITH verdict AS ({SEMANTIC_DEDUP_SQL})
SELECT cluster, count(*) AS size,
       sum(CASE WHEN kept THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       sum(CASE WHEN kept THEN 0 ELSE 1 END) / count(*) AS drop_share
FROM verdict GROUP BY cluster
"""


# ----------------------------------------------------------------------
# Incrementally-maintained SemDeDup (round 11): the steady-state form —
# a frozen quantizer, a persisted cluster index, and per-batch verdicts
# from the change feed; the ivm.py subscription pattern applied to the
# semantic tier (incremental near-dup / BM25 are the sibling indexes).
# ----------------------------------------------------------------------

_SD_APP = "_semdedup_idx"


class IncrementalSemDedup:
    """SemDeDup maintained from an embeddings table's change feed.

    Build: train the sampled fixed-point k-means ONCE on the build
    corpus and FREEZE the centroids (an index's cluster ids must stay
    stable while data streams in — the same frozen-quantizer contract
    as streaming/pipeline.py streamed_ivf_index); assign, normalize,
    judge all within-cluster pairs, persist three relations (centroids,
    the cluster-partitioned (vec_id, cluster, u) index, and per-vector
    verdicts). The index and the verdicts form one ``RefreshGroup``
    (operators/refresh.py): both commits carry the applied version's
    txn stamp, and a refresh that lands one and fails the other leaves
    the group torn, which the next refresh repairs before it advances.
    The centroids table is not a member: its stamp records the corpus
    version the quantizer was TRAINED on.

    Refresh: assign ONLY the feed's vectors to frozen cells, read the
    stored index pruned to the TOUCHED clusters (partition pruning —
    scan volume tracks churn, not corpus), then judge BOTH directions
    of the keep rule:

    - a new vector is DROPPED iff some same-cluster vector with a
      smaller vec_id (stored or in-batch) scores >= threshold;
    - a STORED vector FLIPS to dropped iff some NEW same-cluster vector
      with a smaller vec_id scores >= threshold (late small-id arrivals
      revoke earlier keeps — without this path the incremental verdicts
      would depend on arrival order).

    Because every (a < b) same-cluster pair is judged exactly when the
    LATER of the two arrives, the accumulated verdicts equal the batch
    recompute over the full corpus under the SAME frozen centroids, for
    ANY insert order and any batch boundaries (pinned by
    tests/test_semdedup_incremental.py, including an out-of-order
    arrival that exercises the flip). The feed must be INSERT-only:
    embeddings are immutable corpus rows here; an update/delete means
    re-embedding, which invalidates frozen-centroid geometry — refresh
    raises and the caller rebuilds (the honest contract, stated loudly,
    like the quarantine path's).

    Cost per refresh: O(batch) assignment against the broadcast
    centroid relation, O(batch · cluster_size) pair work both
    directions (cluster_size bounded by the adaptive-K target), index
    reads pruned to touched clusters. Reference analog: none —
    extension surface.

    BUILD-CORPUS CONTRACT (ADVICE r11): the frozen quantizer trains on
    the rows with ``vec_id < train_cap(n, k)``, which sizes the sample
    correctly only when the build commit's ids are dense near their
    minimum (the synthetic-corpus invariant the driver oracle shares —
    its train_where replays the identical filter, so the two sides
    always agree). A sparse-id build trains on however many rows fall
    under the cap — tolerated by design (the out-of-order lifecycle
    builds on gapped corpora deliberately; see
    tests/test_semdedup_incremental.py), with the one hard floor that
    ids ``0..k-1`` must exist for seeding (train_kmeans_frame raises
    otherwise). Callers with non-dense ids should densify before
    build if they want the full cap-sized sample. Feeds must also carry genuinely NEW vec_ids: a
    re-inserted existing id would append a duplicate index row and
    inflate later pair judgments — refresh refuses it like the
    insert-only rule."""

    def __init__(self, emb: "VersionedTable", root: str):
        import os

        from de_final_project_spark.operators.refresh import RefreshGroup
        from de_final_project_spark.operators.txlog import VersionedTable

        self.emb = emb
        self.index = VersionedTable(
            os.path.join(root, "sd_index"), partition_col="cluster"
        )
        self.verdicts = VersionedTable(os.path.join(root, "sd_verdicts"))
        self.cents = VersionedTable(os.path.join(root, "sd_centroids"))
        # A re-inserted id would append a duplicate (vec_id, cluster, u)
        # index row and inflate every later pair judgment while
        # verdicts.merge upserts over the symptom, so the probe runs on
        # EVERY delta window, before any state changes.
        self.group = RefreshGroup(
            [(emb, ["vec_id"])], _SD_APP, (self.verdicts, self.index),
            probe=self.index,
            removal_error=(
                "incremental semdedup requires an INSERT-only feed: an "
                "updated/deleted embedding invalidates frozen-centroid "
                "geometry — rebuild the index."
            ),
            dup_error=(
                "incremental semdedup requires NEW vec_ids: the feed "
                "re-inserts an id already in the index — re-embedding "
                "invalidates frozen-centroid geometry; rebuild the "
                "index."
            ),
        )
        self.applied_version = self.group.applied_version

    @staticmethod
    def _quantize(emb_df: DataFrame) -> DataFrame:
        from de_final_project_spark.operators.kmeans import SCALE

        return emb_df.select(
            "vec_id",
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: F.floor(x * SCALE).cast("long"),
            ).alias("q"),
        )

    def _frozen(self, spark: SparkSession) -> list[list[int]]:
        rows = self.cents.read(spark).orderBy("j").collect()
        return [[int(v) for v in r["c"]] for r in rows]

    def _guard(self, spark: SparkSession, sizes: DataFrame) -> None:
        limit = int(
            spark.conf.get(MAX_CLUSTER_CONF, str(DEFAULT_MAX_CLUSTER))
        )
        worst = sizes.agg(F.max("count")).first()[0]
        if worst and worst > limit:
            raise ValueError(
                f"incremental semdedup: largest touched cluster has "
                f"{worst:,} vectors, over the {limit:,} bound — raise K "
                f"(rebuild) or {MAX_CLUSTER_CONF}."
            )

    @staticmethod
    def _dropped(a: DataFrame, b: DataFrame) -> DataFrame:
        """b-side ids with a smaller-id a-side neighbor >= threshold;
        both frames carry (vec_id, cluster, u). Cogrouped Arrow/NumPy
        pair scorer (functions/pairs.py) — exact fold dots, rounding
        and threshold in Spark — replacing the cluster equi-join +
        interpreted HOF dot (see semantic_dedup)."""
        from de_final_project_spark.functions.pairs import (
            pair_dots_between,
        )

        return (
            pair_dots_between(
                a.select("vec_id", "cluster", "u"),
                b.select("vec_id", "cluster", "u"),
                ["cluster"],
            )
            .where(
                F.round(F.col("_dot"), 6) >= SEMDEDUP_COSINE_THRESHOLD
            )
            .select(F.col("b_id").alias("vec_id"))
            .distinct()
        )

    def refresh(self, spark: SparkSession) -> dict:
        return self.group.refresh(
            spark, self._plan, {"assigned": 0, "flipped": 0}
        )

    def _plan(self, w) -> tuple[dict, dict]:
        from de_final_project_spark.functions.pairs import pair_dots_update
        from de_final_project_spark.operators.kmeans import assign_cells

        spark = w.spark
        if w.mode == "build":
            cents, commits, n, _ = self._train(w)
            # the centroids land FIRST: a retry re-trains the same
            # quantizer (training is deterministic) and this commit's
            # stamp makes it a no-op
            self.cents.overwrite(cents, txn=(_SD_APP, w.to))
            return commits, {"assigned": n, "flipped": 0}
        new = w.new.select("vec_id", "embedding")
        centroids = self._frozen(spark)
        newrows = w.persist(
            assign_cells(self._quantize(new), centroids, out="cluster")
            .select("vec_id", F.col("cluster").cast("long").alias("cluster"))
            .join(unit_vectors(new), "vec_id")
        )
        assigned = newrows.count()
        touched = sorted(
            {r[0] for r in newrows.select("cluster").distinct().collect()}
        )
        stored = w.persist(
            w.read(
                self.index,
                where="cluster IN (%s)" % ", ".join(str(c) for c in touched)
                if touched
                else "cluster IS NULL",
            )
        )
        self._guard(
            spark,
            stored.unionByName(newrows.select("vec_id", "cluster", "u"))
            .groupBy("cluster")
            .count(),
        )
        # BOTH keep-rule directions in ONE cogrouped pair stage
        # (OPTIMIZATION r13): the stored×new Gram is accumulated once
        # and serves "is the arrival dropped?" (b new) and "does a late
        # small-id arrival revoke an earlier keep?" (b stored). The
        # thresholded id frame (churn-sized) is persisted so every
        # consumer — the new verdicts, the flips, the flip count, the
        # merge staging — reads one materialization. Values are
        # bit-identical (IEEE multiply commutes; d-order accumulation
        # unchanged — pinned by tests/test_pairs.py).
        judged = w.persist(
            pair_dots_update(
                stored.select("vec_id", "cluster", "u"),
                newrows.select("vec_id", "cluster", "u"),
                ["cluster"],
            )
            .where(
                F.round(F.col("_dot"), 6) >= SEMDEDUP_COSINE_THRESHOLD
            )
            .select("b_id", "b_new")
            .distinct()
        )
        dropped_new = judged.where(F.col("b_new")).select(
            F.col("b_id").alias("vec_id")
        ).withColumn("_d", F.lit(True))
        new_verdicts = newrows.join(dropped_new, "vec_id", "left").select(
            "vec_id", "cluster", F.col("_d").isNull().alias("kept")
        )
        # flips: stored vectors revoked by smaller-id NEW arrivals
        flip_ids = judged.where(~F.col("b_new")).select(
            F.col("b_id").alias("vec_id")
        )
        flips = (
            stored.join(flip_ids, "vec_id", "left_semi")
            .select("vec_id", "cluster", F.lit(False).alias("kept"))
        )
        # stored vec_ids are unique (the group's probe refuses
        # re-inserts), so |flips| == |flip_ids| — counted off the
        # persisted id frame.
        n_flips = flip_ids.count()
        return (
            {
                self.verdicts: lambda txn: self.verdicts.merge(
                    spark, new_verdicts.unionByName(flips), ["vec_id"],
                    txn=txn,
                ),
                self.index: lambda txn: self.index.append(
                    newrows.select("vec_id", "cluster", "u"), txn=txn
                ),
            },
            {"assigned": assigned, "flipped": n_flips},
        )

    def _train(self, w) -> tuple[DataFrame, dict, int, int]:
        """Train a fresh quantizer on the corpus at ``w.to`` (sampled:
        vec_id < train_cap, adaptive K), assign everything and recompute
        the batch keep rule: (centroid frame, one overwrite thunk per
        group table, corpus size, K). Shared by build (first refresh) and
        :meth:`reoptimize` (drift-triggered re-train) — the two are the
        SAME operation over different corpus states, which is what
        makes the re-train invariant testable: post-reoptimize state
        must equal a fresh build on the same corpus."""
        from de_final_project_spark.operators.kmeans import (
            _assign,
            choose_k,
            train_cap,
            train_kmeans_frame,
        )

        spark = w.spark
        full = self.emb.read(spark, version=w.to)
        qdf = w.persist(self._quantize(full))
        n = qdf.count()
        k = choose_k(n)
        train = qdf.where(F.col("vec_id") < train_cap(n, k))
        centroids = train_kmeans_frame(train, k=k)
        rows = w.persist(
            _assign(qdf, centroids)
            .select("vec_id", F.col("cluster").cast("long").alias("cluster"))
            .join(unit_vectors(full), "vec_id")
        )
        self._guard(spark, rows.groupBy("cluster").count())
        dropped = self._dropped(rows, rows).withColumn("_d", F.lit(True))
        verdict = rows.join(dropped, "vec_id", "left").select(
            "vec_id", "cluster", F.col("_d").isNull().alias("kept")
        )
        cents = spark.createDataFrame(
            [(j, [int(v) for v in c]) for j, c in enumerate(centroids)],
            "j bigint, c array<bigint>",
        )
        # the verdict branch's pair stage runs inside its own staging
        # job; the group overlaps it with the index commit
        return cents, {
            self.verdicts: lambda txn: self.verdicts.overwrite(verdict, txn=txn),
            self.index: lambda txn: self.index.overwrite(
                rows.select("vec_id", "cluster", "u"), txn=txn
            ),
        }, n, k

    def trained_version(self) -> int | None:
        """The embeddings-table version the frozen quantizer last
        trained on (the cents table's txn stamp — set by build and by
        every reoptimize)."""
        return self.cents.txn_version(_SD_APP)

    @staticmethod
    def _psi_max(ref: DataFrame, cand: DataFrame) -> float:
        """Delegates to the shared drift trigger
        (:func:`de_final_project_spark.operators.similarity.psi_max`) —
        one scalar used by every frozen-quantizer index's reoptimize."""
        from de_final_project_spark.operators.similarity import psi_max

        return psi_max(ref, cand)

    def reoptimize(
        self, spark: SparkSession, psi_threshold: float = 0.2
    ) -> dict:
        """Drift-triggered quantizer re-train — the OPTIMIZE analog for
        a frozen-centroid semantic index (VERDICT r11 item 6). The
        frozen contract keeps incremental refreshes exact, but under
        distribution drift recall decays monotonically and nothing
        repairs it; this is the repair. Measures max per-dim PSI
        between the corpus the quantizer trained on (time-traveled to
        the cents txn stamp) and everything inserted since. Below the
        threshold: a no-op report. At/above it: re-train sampled
        centroids on the CURRENT corpus, re-assign every vector,
        recompute the batch keep rule, and overwrite the index and the
        verdicts (``RefreshGroup.commit`` with ``rewrite``: stamped
        where the stamp advances), then the centroids — after which
        a pending refresh is a no-op (the stamp advanced) and a second
        reoptimize reports no new data.

        Invariant (pinned in tests): the post-reoptimize state is
        byte-identical to a FRESH build over the same corpus — the
        re-train is the build, not an approximation of it.

        Cost: two corpus scans for the PSI counts (1024-row aggregate),
        then the build path's O(K²) sampled training + O(n) assignment
        only when drift actually crossed the line."""
        from de_final_project_spark.operators.txlog import EmptyChangeFeed

        base_v = self.emb.latest_version()
        trained_v = self.trained_version()
        if trained_v is None:
            raise FileNotFoundError(
                "reoptimize before build: refresh() first"
            )
        if trained_v >= base_v:
            return {"retrained": False, "max_psi": 0.0,
                    "trained_on": trained_v, "head": base_v}
        ref = self.emb.read(spark, version=trained_v)
        try:
            feed = self.emb.read_changes(
                spark, ["vec_id"], trained_v, base_v,
                include_deletes=True,
                include_update_preimages=True,
            )
        except EmptyChangeFeed:
            return {"retrained": False, "max_psi": 0.0,
                    "trained_on": trained_v, "head": base_v}
        cand = feed.where(F.col("_change_type") == "insert").select(
            "vec_id", "embedding"
        )
        psi = self._psi_max(ref.select("vec_id", "embedding"), cand)
        if psi < psi_threshold:
            return {"retrained": False, "max_psi": psi,
                    "trained_on": trained_v, "head": base_v}
        with self.group.window(spark, base_v) as w:
            cents, commits, n, k = self._train(w)
            self.group.commit(w, commits, rewrite=True)
        # the centroids land LAST: their stamp is what says "retrained",
        # so a reoptimize that failed before it re-runs in full
        self.cents.overwrite(cents, txn=(_SD_APP, base_v))
        return {"retrained": True, "max_psi": psi, "k": k,
                "assigned": n, "trained_on": base_v, "head": base_v}

    def read_verdicts(self, spark: SparkSession) -> DataFrame:
        return self.verdicts.read(spark)


def incremental_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable incrementally-maintained SemDeDup: embeddings
    arrive as THREE commits (the low half by vec_id, then two quarter
    batches), the quantizer trains frozen on the FIRST commit (sampled,
    adaptive K — the frozen contract sizes K to what the trainer sees),
    and each refresh judges only its batch against the stored
    cluster-pruned index. Inline asserts pin churn proportionality
    (each refresh assigns exactly its batch) and the no-op replay. The
    oracle replays the identical history-restricted sampled training
    (train_where/k_where scalar subqueries) with full-corpus assignment
    and the identical keep rule — accumulated incremental verdicts
    equal that batch recompute EXACTLY (each a<b pair judged when its
    later member arrives; contiguous splits here, out-of-order arrival
    pinned in tests)."""
    import os

    from de_final_project_spark.operators.txlog import VersionedTable
    from de_final_project_spark.session import scratch_dir

    emb = read_testdata(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    lo, hi = emb.agg(F.min("vec_id"), F.max("vec_id")).first()
    cut = (lo + hi) // 2
    q3 = (cut + hi) // 2
    root = scratch_dir("sdidx")
    bronze = VersionedTable(os.path.join(root, "embeddings"))
    history = emb.where(F.col("vec_id") <= cut)
    batch_a = emb.where((F.col("vec_id") > cut) & (F.col("vec_id") <= q3))
    batch_b = emb.where(F.col("vec_id") > q3)
    # one scan for all three cohort counts (was 3 jobs — §1.2)
    n_hist, n_a, n_b = emb.agg(
        F.sum((F.col("vec_id") <= cut).cast("long")),
        F.sum(
            ((F.col("vec_id") > cut) & (F.col("vec_id") <= q3)).cast("long")
        ),
        F.sum((F.col("vec_id") > q3).cast("long")),
    ).first()
    bronze.overwrite(history)
    idx = IncrementalSemDedup(bronze, root)
    r1 = idx.refresh(spark)
    assert (r1["mode"], r1["assigned"]) == ("build", n_hist), r1
    bronze.append(batch_a)
    r2 = idx.refresh(spark)
    assert (r2["mode"], r2["assigned"]) == ("delta", n_a), r2
    bronze.append(batch_b)
    r3 = idx.refresh(spark)
    assert (r3["mode"], r3["assigned"]) == ("delta", n_b), r3
    assert idx.refresh(spark)["mode"] == "noop"
    return idx.read_verdicts(spark)


# Oracle: frozen-on-history sampled training. K sizes to the HISTORY
# count (k_where — the frozen contract), iterations run over the first
# train_cap(n_hist, K) vectors (history ids are the contiguous low
# half, so the prefix is a plain vec_id bound), final assignment covers
# the full corpus; the verdict tail is the batch operator's.
_SD_CUT = "(SELECT (min(vec_id) + max(vec_id)) // 2 FROM embeddings)"
_KK_HIST = (
    f"least({K_MAX}, greatest({K_MIN}, "
    f"(count(*) + {TARGET_CLUSTER_SIZE - 1}) // {TARGET_CLUSTER_SIZE}))"
)
_CAP_HIST = (
    f"(SELECT greatest({_KK_HIST}, "
    f"least(count(*), {TRAIN_POINTS_PER_CENTROID} * {_KK_HIST}))::BIGINT "
    f"FROM embeddings WHERE vec_id <= {_SD_CUT})"
)

INCREMENTAL_SEMDEDUP_SQL = f"""{_kmeans_sql(
    train_where=f"v.vec_id < {_CAP_HIST}",
    k_where=f"v.vec_id <= {_SD_CUT}",
)},
un AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nn
  FROM embeddings
),
uu AS (SELECT vec_id, list_transform(v, x -> x / nn) AS u FROM un),
cl AS (
  SELECT f.vec_id, f.cluster, uu.u
  FROM final_assign f JOIN uu USING (vec_id)
),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM cl a JOIN cl b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.u, b.u), 6) >= {SEMDEDUP_COSINE_THRESHOLD}
)
SELECT c.vec_id, c.cluster, d.vec_id IS NULL AS kept
FROM cl c LEFT JOIN dropped d ON c.vec_id = d.vec_id
"""


def semdedup_drift_reoptimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable quantizer-drift lifecycle (VERDICT r11 item 6):
    freeze -> drift -> re-train -> serve. Build freezes the quantizer
    on the raw low half of the corpus; the high half then arrives
    DRIFTED (each component remapped x -> (x+1)/2 — mass shifts into
    the upper half of the PSI grid, a real distribution shift, not a
    forced trigger); the delta refresh serves it under the frozen
    centroids; reoptimize measures max per-dim PSI between the trained
    era and the arrivals, crosses the threshold, and re-trains +
    re-assigns + re-stamps on the full drifted corpus. Inline asserts
    pin each phase (build / delta / retrained with measured PSI >= 0.2
    / pending refresh no-op / second reoptimize no-new-data).

    The oracle is the re-train invariant made executable: post-
    reoptimize state must equal a FRESH build over the same drifted
    corpus, so the SQL replays full-corpus sampled training + the
    batch keep rule over the identically-transformed embeddings."""
    import os

    from de_final_project_spark.operators.txlog import VersionedTable
    from de_final_project_spark.session import scratch_dir

    emb = read_testdata(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    lo, hi = emb.agg(F.min("vec_id"), F.max("vec_id")).first()
    cut = (lo + hi) // 2
    root = scratch_dir("sddrift")
    bronze = VersionedTable(os.path.join(root, "embeddings"))
    history = emb.where(F.col("vec_id") <= cut)
    drifted = emb.where(F.col("vec_id") > cut).select(
        "vec_id",
        F.transform(
            "embedding", lambda x: (x + F.lit(1.0)) / F.lit(2.0)
        ).alias("embedding"),
    )
    # one scan for both cohort counts (was 2 jobs — §1.2)
    n_hist, n_new = emb.agg(
        F.sum((F.col("vec_id") <= cut).cast("long")),
        F.sum((F.col("vec_id") > cut).cast("long")),
    ).first()
    bronze.overwrite(history)
    idx = IncrementalSemDedup(bronze, root)
    r1 = idx.refresh(spark)
    assert (r1["mode"], r1["assigned"]) == ("build", n_hist), r1
    bronze.append(drifted)
    r2 = idx.refresh(spark)
    assert (r2["mode"], r2["assigned"]) == ("delta", n_new), r2
    r3 = idx.reoptimize(spark, psi_threshold=0.2)
    assert r3["retrained"] is True and r3["max_psi"] >= 0.2, r3
    assert r3["trained_on"] == bronze.latest_version()
    assert idx.refresh(spark)["mode"] == "noop"
    r4 = idx.reoptimize(spark, psi_threshold=0.2)
    assert r4["retrained"] is False and r4["max_psi"] == 0.0, r4
    return idx.read_verdicts(spark)


# Oracle: the fresh-build equivalence. The drifted corpus is stated as
# a CASE inside the quantize/normalize lambdas (float->double cast
# first, then (x+1)/2 in IEEE double — bit-identical to the Spark
# transform); training is full-corpus sampled (K from the whole
# corpus, iterations over the first train_cap rows), the verdict tail
# is the batch operator's.
# DuckDB lambdas cannot contain subqueries, so the cut rides a
# cross-joined one-row derived table and the lambda references the
# plain column.
_SD_DRIFT = "CASE WHEN vec_id > cutv.cut THEN (x + 1.0) / 2.0 ELSE x END"
_SD_CUTV = (
    "(SELECT (min(vec_id) + max(vec_id)) // 2 AS cut FROM embeddings) cutv"
)
_SD_DRIFT_QV = f"""SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(({_SD_DRIFT}) * {SCALE}) AS BIGINT)) AS q
  FROM embeddings, {_SD_CUTV}"""
_SD_DRIFT_PREFIX = _kmeans_sql(
    qv_body=_SD_DRIFT_QV,
    train_where=f"v.vec_id < {_CAP_SQL}",
    k_where="",
)
SEMDEDUP_DRIFT_REOPTIMIZE_SQL = f"""{_SD_DRIFT_PREFIX},
un AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> {_SD_DRIFT}) AS v
  FROM embeddings, {_SD_CUTV}
),
uq AS (
  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nn FROM un
),
uu AS (SELECT vec_id, list_transform(v, x -> x / nn) AS u FROM uq),
cl AS (
  SELECT f.vec_id, f.cluster, uu.u
  FROM final_assign f JOIN uu USING (vec_id)
),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM cl a JOIN cl b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.u, b.u), 6) >= {SEMDEDUP_COSINE_THRESHOLD}
)
SELECT c.vec_id, c.cluster, d.vec_id IS NULL AS kept
FROM cl c LEFT JOIN dropped d ON c.vec_id = d.vec_id
"""


def ivf_drift_reoptimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF-tier sibling of :func:`semdedup_drift_reoptimize` —
    drift repair for the cell-partitioned versioned ANN index (the
    second frozen-quantizer surface VERDICT r11 item 6 names). The
    lifecycle the streamed IVF index lacks a repair for:

    1. FREEZE: train the coarse quantizer on the raw low half (K sized
       to history — the frozen contract) and commit the full history
       assignment into a cell-partitioned VersionedTable.
    2. SERVE DRIFT: the high half arrives remapped x -> (x+1)/2 (mass
       shifts into the upper PSI bins); each arrival is assigned to its
       nearest FROZEN cell and MERGEd — touching only those cells'
       partitions, the churn-proportional path.
    3. TRIGGER: max per-dim PSI between the trained-era corpus and the
       arrivals crosses the threshold (measured, asserted >= 0.2 — real
       distribution shift, not a forced flag).
    4. REPAIR: re-train sampled centroids on the full drifted corpus
       (adaptive K over the full count), re-assign every vector, and
       overwrite the index — the one commit shape a cell relabeling
       requires (cell ids are quantizer-relative; an in-place merge
       would mix two geometries). The overwrite is UNSTAMPED because
       the frozen-serve merge already carries this corpus version's
       stamp and a non-advancing stamp is silently dropped as a replay
       (the semdedup stamp-skip lesson); the txn map carries forward.

    Oracle: the re-train invariant — the served index must equal
    full-corpus sampled training over the identically-drifted corpus
    (same generated Lloyd CTEs, final_assign tail)."""
    import os

    from de_final_project_spark.operators.kmeans import (
        assign_cells,
        choose_k,
        train_cap,
        train_kmeans_frame,
    )
    from de_final_project_spark.operators.similarity import psi_max
    from de_final_project_spark.operators.txlog import VersionedTable
    from de_final_project_spark.session import scratch_dir

    app = "_ivf_drift"
    emb = read_testdata(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    lo, hi = emb.agg(F.min("vec_id"), F.max("vec_id")).first()
    cut = (lo + hi) // 2
    history = emb.where(F.col("vec_id") <= cut).persist()
    drifted = (
        emb.where(F.col("vec_id") > cut)
        .select(
            "vec_id",
            F.transform(
                "embedding", lambda x: (x + F.lit(1.0)) / F.lit(2.0)
            ).alias("embedding"),
        )
        .persist()
    )
    root = scratch_dir("ivfdrift")
    corpus = VersionedTable(os.path.join(root, "embeddings"))
    corpus.overwrite(history)
    index = VersionedTable(os.path.join(root, "ivf_index"), partition_col="cell")

    def quantize(df):
        from de_final_project_spark.operators.kmeans import SCALE

        return df.select(
            "vec_id",
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: F.floor(x * SCALE).cast("long"),
            ).alias("q"),
        )

    # 1. freeze on history
    q_hist = quantize(history).persist()
    cents_h = train_kmeans_frame(q_hist)
    index.overwrite(
        assign_cells(q_hist, cents_h, out="cell"),
        txn=(app, corpus.latest_version()),
    )
    n_hist = index.read(spark).count()
    assert n_hist == history.count()
    # 2. drifted arrivals served under the FROZEN cells
    corpus.append(drifted)
    index.merge(
        spark,
        assign_cells(quantize(drifted), cents_h, out="cell"),
        ["vec_id"],
        txn=(app, corpus.latest_version()),
    )
    n_all = index.read(spark).count()
    assert n_all == n_hist + drifted.count()
    # 3. the drift trigger — measured on the real cohorts
    psi = psi_max(history, drifted)
    assert psi >= 0.2, psi
    # 4. repair: re-train on the full drifted corpus, re-assign, rewrite
    q_full = quantize(corpus.read(spark)).persist()
    n = q_full.count()
    k = choose_k(n)
    cents_full = train_kmeans_frame(
        q_full.where(F.col("vec_id") < train_cap(n, k)), k=k
    )
    v_before = index.latest_version()
    index.overwrite(assign_cells(q_full, cents_full, out="cell"))
    assert index.latest_version() > v_before  # the rewrite LANDED
    for df in (history, drifted, q_hist, q_full):
        df.unpersist()
    return index.read(spark).select(
        "vec_id", F.col("cell").cast("long").alias("cell")
    )


IVF_DRIFT_REOPTIMIZE_SQL = f"""{_SD_DRIFT_PREFIX}
SELECT vec_id, cluster AS cell FROM final_assign
"""
