"""Incremental inverted term-statistics index for the CDC flow — the
retrieval counterpart of operators/incremental.py's signature index.

Batch BM25 (operators/retrieval.py) re-tokenizes the whole corpus per
scoring run — right for one-shot passes, wrong downstream of a change
stream: at the 10^10-event design point an epoch touches a sliver of
the keyspace, so corpus-wide re-tokenization per epoch would dwarf the
ingest itself. This index maintains per-document term statistics
((id, term, tf) + doc length) alongside the lake table:

- ``update_epoch`` tokenizes ONLY the epoch's changed documents (O(Δ)
  text bytes) and commits them as an epoch-named delta — idempotent,
  atomic (scratch dir + rename), resumable: the exactly-once contract
  of the lake's own epoch commits (reference analogue: per-task commits
  in exec/BulkLoader.java:512-582).
- An updated document supersedes its older rows (latest committed epoch
  per id wins — merge-on-read, no rewrite); a NULL-text delivery is a
  tombstone that removes the document from corpus statistics.
- ``term_df`` / ``bm25`` answer from the INDEX alone: document
  frequencies, lengths and term tfs aggregate over O(index) rows —
  the raw text is never touched after ingest.

Invariant (pinned by tests and the driver oracle): after any epoch
sequence, ``term_df``/``bm25`` equal the batch computation over the
corpus's final state — incremental == batch.

Token convention: operators/retrieval.py::TOKENS_EXPR (lower + ASCII
whitespace split), the same "word" dedup and BM25 agree on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .incremental import EpochDeltas, purge_epoch_dirs
from .retrieval import TOKENS_EXPR


class TermIndex(EpochDeltas):
    """Persistent per-document term stats with epoch-commit semantics.

    Layout: ``<path>/deltas/epoch=N/*.parquet`` (columns id, term, tf,
    dl [, order_cols]; term NULL = tombstone), committed through
    operators/incremental.py::EpochDeltas. ``<path>/meta.json`` pins
    (id_col, id_type, order_cols) so a resumed handle types empty
    frames consistently and can't silently change the winner rule.

    ``order_cols``: the event-order columns that decide which delivery
    of a document is current (``['warc_ts', 'seq']`` for lake tables —
    the SAME resolution as the lake's merge-on-read read path, which
    matters because a LATE event in a newer epoch must LOSE to an
    earlier epoch's newer row). Default [] resolves by arrival epoch,
    right for plain document streams without event time."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        id_col: str = "url",
        id_type: str = "string",
        order_cols: list[str] | None = None,
        order_types: list[str] | None = None,
    ) -> None:
        super().__init__(path.rstrip("/"))
        self.spark = spark
        order_cols = list(order_cols or [])
        order_types = list(
            order_types if order_types is not None
            else ["string"] * len(order_cols)
        )
        if len(order_types) != len(order_cols):
            raise ValueError("order_types must pair 1:1 with order_cols")
        self._pin_meta(
            {"id_col": id_col, "id_type": id_type,
             "order_cols": order_cols, "order_types": order_types,
             "tokens": "v1"},
            "term index",
        )
        self.id_col = id_col
        self.id_type = id_type
        self.order_cols = order_cols
        self.order_types = order_types

    # ------------------------------------------------------------------
    def update_epoch(
        self, docs: DataFrame, text_col: str, epoch: int
    ) -> dict:
        """Tokenize this epoch's changed documents and commit them as the
        epoch's delta. ``docs``: one row per changed id — the CURRENT
        text (or NULL text for a delete) plus the index's order_cols.
        Duplicate delivery of a committed epoch is skipped (idempotent).
        O(Δ) text bytes: one narrow JVM tokenize + explode + (id, term)
        count — the only shuffle is onto the epoch's own (tiny) term
        rows."""
        if epoch in self.committed_epochs():
            return self._skipped(epoch)
        missing = [c for c in self.order_cols if c not in docs.columns]
        if missing:
            raise ValueError(
                f"index order_cols {missing} not in the docs schema "
                f"{docs.columns} — create the index with "
                "order_cols=['warc_ts', 'seq'] for lake tables"
            )
        toked = docs.select(
            F.col(self.id_col).alias("id"),
            *self.order_cols,
            F.expr(TOKENS_EXPR.format(col=text_col)).alias("_toks"),
            F.col(text_col).isNull().alias("_dead"),
        )
        live = (
            toked.filter(~F.col("_dead"))
            .withColumn("dl", F.size("_toks"))
            .select("id", *self.order_cols, "dl",
                    F.explode("_toks").alias("term"))
            .groupBy("id", *self.order_cols, "term")
            .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
        )
        # a live zero-token document is still a corpus member (it counts
        # in N and pulls avgdl down, exactly as the batch scorer sees it):
        # term NULL + dl 0 — distinct from a tombstone's dl NULL
        empty = toked.filter(~F.col("_dead") & (F.size("_toks") == 0)).select(
            "id",
            *self.order_cols,
            F.lit(None).cast("string").alias("term"),
            F.lit(None).cast("bigint").alias("tf"),
            F.lit(0).cast("int").alias("dl"),
        )
        dead = toked.filter(F.col("_dead")).select(
            "id",
            *self.order_cols,
            F.lit(None).cast("string").alias("term"),
            F.lit(None).cast("bigint").alias("tf"),
            F.lit(None).cast("int").alias("dl"),
        )
        rows = live.select(
            "id", *self.order_cols, "term", "tf", "dl"
        ).unionByName(empty).unionByName(dead)
        return self._commit_epoch(
            epoch, lambda scratch: rows.write.mode("overwrite").parquet(scratch)
        )

    def purge_ids(self, ids: list) -> dict:
        """Compliance purge: every stored (id, term, tf) row of the ids
        leaves the index (incremental.purge_epoch_dirs); run after
        ``lake.purge_keys`` on the upstream table."""
        eps = purge_epoch_dirs(self.spark, self._deltas, ids)
        return {"epochs_rewritten": eps, "ids": len(ids)}

    def _fold(self, df: DataFrame, epoch: int) -> dict:
        docs = df.select(
            F.col("url").alias(self.id_col),
            *self.order_cols,
            F.when(F.col("is_deleted"), F.lit(None).cast("string"))
            .otherwise(F.col("text"))
            .alias("text"),
        )
        return self.update_epoch(docs, "text", epoch)

    # ------------------------------------------------------------------
    def _rows(self, as_of_epoch: int | None) -> DataFrame:
        dirs = self._data_dirs(as_of_epoch=as_of_epoch)
        if not dirs:
            # no epochs, or only empty ones: no files to infer a schema from
            return self.spark.createDataFrame([], self._ddl())
        return self.spark.read.option("basePath", self._deltas).parquet(
            *dirs
        ).withColumn("epoch", F.col("epoch").cast("int"))

    def _winner_key(self):
        return F.struct(
            *[F.col(c) for c in self.order_cols], F.col("epoch")
        )

    def _ddl(self) -> str:
        ords = "".join(
            f"{c} {t}, " for c, t in zip(self.order_cols, self.order_types)
        )
        return (
            f"id {self.id_type}, {ords}term string, tf bigint, dl int, "
            f"epoch int"
        )

    def _winner_rows(self, as_of_epoch: int | None) -> DataFrame:
        rows = self._rows(as_of_epoch)
        winners = rows.groupBy("id").agg(F.max(self._winner_key()).alias("_w"))
        return (
            rows.join(winners, "id")
            .filter(self._winner_key() == F.col("_w"))
            .drop("_w", "epoch", *self.order_cols)
        )

    def state(self, *, as_of_epoch: int | None = None) -> DataFrame:
        """Live (id, term, tf, dl) rows: each document's winning delivery
        — max (order_cols, arrival epoch), the lake's merge-on-read
        resolution — survives; tombstones drop the document. One shuffle
        on id for the winner resolution — over O(index) rows, never the
        text."""
        return self._winner_rows(as_of_epoch).filter(F.col("term").isNotNull())

    def live_docs(self, *, as_of_epoch: int | None = None) -> DataFrame:
        """(id, dl) of every live document — INCLUDING zero-token docs,
        which carry no term rows but still count in corpus constants."""
        return (
            self._winner_rows(as_of_epoch)
            .filter(F.col("dl").isNotNull())
            .groupBy("id")
            .agg(F.first("dl").alias("dl"))
        )

    def term_df(self, *, as_of_epoch: int | None = None) -> DataFrame:
        """(term, df) over the live corpus — one partial-combine agg on
        the index."""
        return (
            self.state(as_of_epoch=as_of_epoch)
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"))
        )

    def bm25(
        self,
        query_terms: list[str],
        *,
        k1: float = 1.2,
        b: float = 0.75,
        as_of_epoch: int | None = None,
    ) -> DataFrame:
        """(id, score, n_matched_terms) from the index alone — the exact
        operators/retrieval.py formula (strictly-positive Robertson idf,
        round 6), so index scores equal batch scores over the corpus's
        final state. Query terms filter FIRST (broadcast IN-set), then
        constants and dfs aggregate over matched rows only."""
        terms = sorted(set(query_terms))
        st = self.state(as_of_epoch=as_of_epoch)
        consts = self.live_docs(as_of_epoch=as_of_epoch).agg(
            F.count(F.lit(1)).cast("double").alias("_n_docs"),
            F.avg("dl").alias("_avgdl"),
        )
        tf = st.filter(F.col("term").isin(terms))
        dft = tf.groupBy("term").agg(
            F.count(F.lit(1)).cast("double").alias("_df")
        )
        idf = F.log(
            F.lit(1.0)
            + (F.col("_n_docs") - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
        )
        contrib = idf * F.col("tf").cast("double") * F.lit(k1 + 1.0) / (
            F.col("tf").cast("double")
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("_avgdl"))
        )
        return (
            tf.join(F.broadcast(dft), "term")
            .crossJoin(F.broadcast(consts))
            .groupBy("id")
            .agg(
                F.round(F.sum(contrib), 6).alias("score"),
                F.count(F.lit(1)).alias("n_matched_terms"),
            )
        )
