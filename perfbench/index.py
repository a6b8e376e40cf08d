"""The corpus half of ``cdc_refresh``: documents and embeddings, and the
three indexes over them.

Set-up loads the lowest 10 % of ``documents`` and ``embeddings`` by id
(the SemDeDup quantizer trains on a dense id prefix) into
``VersionedTable`` s and declares an ``IncrementalNearDupIndex``, an
``IncrementalPostingIndex`` and an ``IncrementalSemDedup`` over them.
The change window appends a seeded sample of the later ids (gapped, so
they arrive out of id order) and refreshes all three indexes; as no
index has been refreshed before, each refresh builds it over the whole
corpus. The read set serves a BM25 top-k and the two verdict reads.
This covers the indexes' refresh protocol, their overlapped sibling
commits and the Python/Arrow pair scorers, at the cost of one refresh
each: a build plus a later delta refresh did not fit the run budget
(perfbench/README.md).
"""

from __future__ import annotations

import os
import random

from perfbench import checks

BUILD_SHARE = 0.1
DOCS = 500
VECS = 500
DOCS_PER_WINDOW = 25
VECS_PER_WINDOW = 25


def arrival_window(seed: int, n_docs: int, n_vecs: int) -> tuple[list[int], list[int]]:
    """The ids arriving in the change window, as (doc ids, vec ids): a
    sample, drawn by ``seed``, of the ids above the build cut."""
    rng = random.Random(seed)
    docs = rng.sample(range(int(n_docs * BUILD_SHARE), n_docs), DOCS_PER_WINDOW)
    vecs = rng.sample(range(int(n_vecs * BUILD_SHARE), n_vecs), VECS_PER_WINDOW)
    return sorted(docs), sorted(vecs)


class Corpus:
    """The two corpus tables, their three indexes and the arriving ids."""

    def __init__(self, ctx, root: str):
        self.ctx = ctx
        self.root = root
        self.doc_ids, self.vec_ids = arrival_window(ctx.seed, DOCS, VECS)
        self.top: list = []

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from de_final_project_spark.operators.neardup import IncrementalNearDupIndex
        from de_final_project_spark.operators.searchidx import IncrementalPostingIndex
        from de_final_project_spark.operators.semdedup import IncrementalSemDedup
        from de_final_project_spark.operators.txlog import VersionedTable

        ctx, spark, tr = self.ctx, self.ctx.spark, self.ctx.tracer
        self.docs_src = spark.read.parquet(os.path.join(ctx.raw, "documents.parquet"))
        self.vecs_src = spark.read.parquet(
            os.path.join(ctx.raw, "embeddings.parquet")).select("vec_id", "embedding")
        self.docs = VersionedTable(os.path.join(self.root, "documents"))
        self.vecs = VersionedTable(os.path.join(self.root, "embeddings"))
        with tr.span("txlog.overwrite"):
            self.docs.overwrite(
                self.docs_src.where(F.col("doc_id") < int(DOCS * BUILD_SHARE)))
            self.vecs.overwrite(
                self.vecs_src.where(F.col("vec_id") < int(VECS * BUILD_SHARE)))
        self.neardup = IncrementalNearDupIndex(self.docs, os.path.join(self.root, "nd"))
        self.postings = IncrementalPostingIndex(self.docs, os.path.join(self.root, "bm"))
        self.semdedup = IncrementalSemDedup(self.vecs, os.path.join(self.root, "sd"))

    def arrivals(self):
        """The window's new rows, as DataFrames, and the corpus sizes
        after them: the rows each index refresh (a build) must touch."""
        from pyspark.sql import functions as F

        return (self.docs_src.where(F.col("doc_id").isin(self.doc_ids)),
                self.vecs_src.where(F.col("vec_id").isin(self.vec_ids)),
                {"docs": int(DOCS * BUILD_SHARE) + len(self.doc_ids),
                 "vecs": int(VECS * BUILD_SHARE) + len(self.vec_ids)})

    def window(self, new_docs, new_vecs) -> dict:
        """Append the window's rows, compact the two base tables, and
        refresh (build) the three indexes."""
        spark, tr = self.ctx.spark, self.ctx.tracer
        with tr.span("txlog.commit.append"):
            self.docs.append(new_docs)
        with tr.span("txlog.commit.append"):
            self.vecs.append(new_vecs)
        with tr.span("txlog.auto_compact"):
            compacted = sum(t.auto_compact(spark)["compacted"] for t in (self.docs, self.vecs))
        return {**self.refresh(), "compactions": compacted}

    def refresh(self) -> dict:
        spark, tr = self.ctx.spark, self.ctx.tracer
        with tr.span("neardup.refresh"):
            nd = self.neardup.refresh(spark)
        with tr.span("searchidx.refresh"):
            bm = self.postings.refresh(spark)
        with tr.span("semdedup.refresh"):
            sd = self.semdedup.refresh(spark)
        return {"signed": nd["signed_docs"], "tokenized": bm["tokenized_docs"],
                "assigned": sd["assigned"]}

    def serve(self) -> None:
        spark, tr = self.ctx.spark, self.ctx.tracer
        with tr.span("searchidx.bm25_topk"):
            self.top = self.postings.bm25_topk(spark).collect()
        with tr.span("neardup.read_verdicts"):
            self.neardup.read_verdicts(spark).count()
        with tr.span("semdedup.read_verdicts"):
            self.semdedup.read_verdicts(spark).count()

    def check(self, reports: list[dict]) -> list[str]:
        """Each refresh touched exactly the corpus; the near-dup verdicts
        and the served BM25 top-k equal the batch operators' oracle SQL
        over the current corpus; the SemDeDup verdicts equal a batch
        recompute of the keep rule over the stored cluster index."""
        import numpy as np

        spark, entry = self.ctx.spark, self.ctx.entry
        errors = []
        for n, r in enumerate(reports):
            if (r["signed"], r["tokenized"]) != (r["docs"], r["docs"]) or r["assigned"] != r["vecs"]:
                errors.append(f"window {n}: refresh touched {r}, not the corpus")
        con = checks.duck(self.ctx.raw)
        con.register("documents", self.docs.read(spark).toPandas())
        oracle = entry.oracle_sql()
        nd = self.neardup.read_verdicts(spark)
        errors += checks.compare(
            "neardup verdicts", (nd.columns, [tuple(r) for r in nd.collect()]),
            checks.run_sql(con, oracle["incremental_neardup_index"]))
        bm = self.postings.bm25_topk(spark)
        errors += checks.compare(
            "bm25 top-k", (bm.columns, [tuple(r) for r in self.top]),
            checks.run_sql(con, oracle["incremental_bm25_search"]))

        from de_final_project_spark.operators.semdedup import SEMDEDUP_COSINE_THRESHOLD

        index = self.semdedup.index.read(spark).toPandas()
        verdicts = {int(r["vec_id"]): bool(r["kept"])
                    for r in self.semdedup.read_verdicts(spark).collect()}
        n_corpus = self.vecs.read(spark).count()
        if len(index) != n_corpus or len(verdicts) != n_corpus:
            errors.append(f"semdedup: {len(index)} indexed, {len(verdicts)} verdicts, "
                          f"{n_corpus} vectors")
        want = {}
        for _c, grp in index.groupby("cluster"):
            ids = grp["vec_id"].to_numpy()
            order = np.argsort(ids)
            ids = ids[order]
            u = np.stack(grp["u"].to_numpy())[order].astype(np.float64)
            dots = np.round(u @ u.T, 6)
            hit = np.triu(dots >= SEMDEDUP_COSINE_THRESHOLD, k=1).any(axis=0)
            want.update({int(i): not bool(h) for i, h in zip(ids, hit)})
        if want != verdicts:
            bad = [i for i in want if want[i] != verdicts.get(i)][:5]
            errors.append(f"semdedup verdicts differ from the keep rule at {bad}")
        return errors

    def versioned_tables(self) -> list:
        return [self.docs, self.vecs, self.neardup.index, self.neardup.verdicts,
                self.postings.postings, self.postings.doclens,
                self.semdedup.index, self.semdedup.verdicts, self.semdedup.cents]
