"""Incrementally-maintained FULL-TEXT POSTING INDEX, served as BM25.

The steady-state form of text retrieval at 100 TB: tokenizing the corpus
is the expensive pass, so it must happen once per document, not once per
query or once per refresh. The index is two ``VersionedTable``s
maintained from the documents table's change feed (the ivm.py
subscription pattern; ``IncrementalNearDupIndex`` is the dedup-tier
precedent, the streamed IVF index the vector-tier one):

- ``postings``: (doc_id, term, tf, tbucket) for EVERY term — a real
  inverted index, not a query-term cache, so any query is servable
  without touching document text again. The table is PARTITIONED by
  ``tbucket = crc32(term) % N_TERM_BUCKETS`` — a pure function of the
  merge key, so rows never move partitions — which is what turns
  "O(churn) compute" into "O(touched buckets) scan": a refresh's MERGE
  rewrites only the buckets its batch's terms hash to, and a query
  reads only its own terms' buckets (``prune_report``-pinned by test).
  crc32 is computed identically by Spark (F.crc32) and the driver
  (zlib.crc32), so bucket lists for a Python query tuple need no job.
- ``doclens``: (doc_id, dl) — the BM25 length normalizer (read as an
  aggregate at serve time; unpartitioned, its reads are corpus-global).

Each refresh tokenizes ONLY the feed's documents (churn-proportional,
asserted by ``incremental_bm25_search``) and merges their postings in
(update/delete by (doc_id, term) — a dropped term of an updated doc is
tombstoned by a NULL-tf marker row built distributedly from the stored
index, never a collected id list). The two tables form one ``RefreshGroup``
(operators/refresh.py): both commits carry the applied version's txn
stamp, and a refresh that lands one and fails the other leaves the group
torn, which the next refresh repairs before it advances — so doclens
never disagree with the postings that BM25 scores them against.

Query serving recomputes the corpus-global statistics (N, avgdl, df)
from the INDEX tables at query time — they are aggregate-sized reads,
and folding them into the stored rows would make every refresh rewrite
the whole index (df/avgdl change with every batch). Scoring reuses the
batch operator's exact expression (corpusops.bm25_scores), so the
accumulated index serves answers IDENTICAL to a full-corpus recompute —
the driver oracle for ``incremental_bm25_search`` is the batch
operator's own SQL, the strongest available check that incrementality
changes cost, not answers.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from de_final_project_spark.functions.text import tokens
from de_final_project_spark.operators.corpusops import (
    BM25_B,
    BM25_K1,
    BM25_QUERY,
    BM25_TOP_K,
)
from de_final_project_spark.sources.readers import read_testdata

_BMIDX_APP = "bm25idx"

# Bucket count: sized so a realistic query (a handful of terms) prunes
# to a small fraction, while a batch's MERGE still touches enough
# buckets to parallelize. Must never change for a live index (bucket is
# part of the physical layout).
N_TERM_BUCKETS = 64


def term_bucket(term: str) -> int:
    """Driver-side twin of the Spark-side bucket expression."""
    import zlib

    return zlib.crc32(term.encode("utf-8")) % N_TERM_BUCKETS


def _tbucket_col():
    return F.pmod(
        F.crc32(F.col("term").cast("binary")), F.lit(N_TERM_BUCKETS)
    ).cast("long")


class IncrementalPostingIndex:
    def __init__(self, docs, root: str):
        from de_final_project_spark.operators.refresh import RefreshGroup
        from de_final_project_spark.operators.txlog import VersionedTable

        self.docs = docs
        self.postings = VersionedTable(
            os.path.join(root, "postings"), partition_col="tbucket"
        )
        self.doclens = VersionedTable(os.path.join(root, "doclens"))
        # the duplicate-key probe reads DOCLENS (doc-count-sized, far
        # smaller than postings)
        self.group = RefreshGroup(
            [(docs, ["doc_id"])], _BMIDX_APP, (self.postings, self.doclens),
            probe=self.doclens,
        )
        self.applied_version = self.group.applied_version

    @staticmethod
    def _tokenize(docs_df: DataFrame) -> tuple[DataFrame, DataFrame]:
        """One pass over ONLY these docs: (postings rows, doclen rows).
        Fanned out first: the bronze/feed read is typically one scan
        task, and tokenization is the refresh's per-row cost
        (session.fan_out)."""
        from de_final_project_spark.session import fan_out

        toks = fan_out(docs_df).select(
            "doc_id", tokens(F.col("text")).alias("toks")
        )
        post = (
            toks.select("doc_id", F.explode("toks").alias("term"))
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
            .withColumn("tbucket", _tbucket_col())
        )
        dl = toks.select("doc_id", F.size("toks").cast("long").alias("dl"))
        return post, dl

    def refresh(self, spark: SparkSession) -> dict:
        """Advance the index to the docs head. Report: mode, version
        window, ``tokenized_docs`` (the churn-proportionality
        measurement)."""
        return self.group.refresh(spark, self._plan, {"tokenized_docs": 0})

    def _plan(self, w) -> tuple[dict, dict]:
        new_post, new_dl = self._tokenize(w.new)
        new_post = w.persist(new_post)
        n_tokenized = w.new.count()
        return (
            {
                self.postings: lambda txn: w.upsert(
                    self.postings, new_post, ["doc_id", "term"], "tf", txn
                ),
                self.doclens: lambda txn: w.upsert(
                    self.doclens, new_dl, ["doc_id"], "dl", txn
                ),
            },
            {"tokenized_docs": n_tokenized},
        )

    def bm25_topk(
        self,
        spark: SparkSession,
        query: tuple[str, ...] = BM25_QUERY,
        k: int = BM25_TOP_K,
    ) -> DataFrame:
        """Okapi BM25 top-k from the STORED index — document text is
        never read. Identical expression to corpusops.bm25_scores, so
        index-served answers equal the batch recompute exactly."""
        # bucket-pruned read: only the query terms' partitions are
        # listed/opened (file skipping from log metadata) — at index
        # scale this is the difference between touching ~|q| buckets
        # and scanning the whole posting relation.
        bks = sorted({term_bucket(str(t)) for t in query})
        post = self.postings.read(
            spark, where=f"tbucket IN ({', '.join(str(b) for b in bks)})"
        )
        dls = self.doclens.read(spark)
        n_docs = dls.count()
        qtf = post.where(
            F.col("term").isin(*[str(t) for t in query])
        ).select("doc_id", "term", "tf")
        dfc = qtf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        avgdl = dls.agg(F.avg("dl").alias("avgdl"))
        idf = F.log(
            (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
            + 1.0
        )
        denom = F.col("tf") + BM25_K1 * (
            1.0 - BM25_B + BM25_B * F.col("dl").cast("double") / F.col("avgdl")
        )
        contrib = idf * (F.col("tf") * (BM25_K1 + 1.0)) / denom
        return (
            qtf.join(F.broadcast(dfc), "term")
            .join(dls, "doc_id")
            .crossJoin(F.broadcast(avgdl))
            .groupBy("doc_id")
            .agg(F.round(F.sum(contrib), 6).alias("bm25"))
            .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
            .limit(k)
        )


def incremental_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable incrementally-maintained text index: documents
    arrive as THREE commits (70% history + two append batches); the
    index refreshes after each, tokenizing only its own batch (asserted
    in-line), then serves the fixed probe query from the stored
    postings. Answers equal the full-corpus batch recompute exactly, so
    the oracle is corpusops.BM25_SCORES_SQL."""
    from de_final_project_spark.operators.txlog import VersionedTable
    from de_final_project_spark.session import scratch_dir

    docs = read_testdata(spark, sf_dir, "documents")
    root = scratch_dir("bmidx")
    bronze = VersionedTable(os.path.join(root, "documents"))
    history = docs.where(F.col("doc_id") % 10 < 7)
    batch_a = docs.where(F.col("doc_id") % 10 == 7)
    batch_b = docs.where(F.col("doc_id") % 10 >= 8)
    # one scan for all three cohort counts (was 3 jobs — §1.2)
    n_hist, n_a, n_b = docs.agg(
        F.sum((F.col("doc_id") % 10 < 7).cast("long")),
        F.sum((F.col("doc_id") % 10 == 7).cast("long")),
        F.sum((F.col("doc_id") % 10 >= 8).cast("long")),
    ).first()
    bronze.overwrite(history)
    idx = IncrementalPostingIndex(bronze, root)
    r1 = idx.refresh(spark)
    assert (r1["mode"], r1["tokenized_docs"]) == ("build", n_hist), r1
    bronze.append(batch_a)
    r2 = idx.refresh(spark)
    # churn proportionality: the second refresh tokenizes ONLY its batch
    assert (r2["mode"], r2["tokenized_docs"]) == ("delta", n_a), r2
    bronze.append(batch_b)
    r3 = idx.refresh(spark)
    assert (r3["mode"], r3["tokenized_docs"]) == ("delta", n_b), r3
    assert idx.refresh(spark)["mode"] == "noop"
    return idx.bm25_topk(spark)
