"""Content-defined chunking (CDC-the-storage-sense) + chunk-level dedup.

Web snapshots of the same page differ by small edits; fixed-size
blocking mis-aligns after one insertion, while *content-defined*
boundaries (cut where a rolling window hash ≡ 0 mod D) realign
immediately — the classic LBFS/rsync/FastCDC insight. Chunk-level
dedup across crawl snapshots is how a 100 TB page store avoids
re-writing the unchanged 95% of every re-crawled page. The reference
system has no sub-record operators (its chain is record-at-a-time,
reference spi/ParserPlugin.java:16-36); this extends the dedup family
(operators/dedup.py) below record granularity.

Semantics (deterministic, engine-portable):
- candidate cut after 1-based position ``i`` ∈ [window, len-1] iff
  ``md5(salt ‖ text[i-window+1 .. i])``'s first 8 hex digits, read as
  an integer, ≡ 0 (mod divisor). Every position is INDEPENDENT (no
  min/max-size suppression), which keeps the definition closed-form in
  SQL — the oracle recomputes it with the same md5 windows.
- chunks = text split at the cut set ∪ {len}; every doc with len ≥ 1
  yields ≥ 1 chunk; expected chunk length ≈ divisor.
- a chunk occurrence is a DUPLICATE iff its (doc, idx) is not the
  corpus-wide minimum ``doc_id·100000 + chunk_idx`` for its md5 — the
  keeper rule shared with dedup_keep_canonical.

Scale shape: chunking is a narrow per-row projection (sequence →
filter → zip_with → posexplode, all whole-stage codegen — no Python);
dedup is ONE shuffle on the uniform chunk-md5 key (map-side partial
min/count) + a broadcast-joinable keeper frame + one partial-agg
rollup back to doc_id. No windows, no sorts, no skew (md5 keys are
uniform by construction).

Production note: the md5-per-window definition costs O(len·window)
hashing; a gear-table rolling hash (O(len), FastCDC) drops in by
replacing ``_window_cut`` — kept md5 here because both engines must
agree bit-for-bit on the SAME cut set for oracle parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: keeper key = doc_id·KEY_BASE + chunk_idx — valid while chunk_idx <
#: KEY_BASE (a 100 MB doc at divisor 64 stays far under it)
KEY_BASE = 100_000


def _window_cut(text, i, window: int, divisor: int, salt: str):
    """Cut predicate after 1-based position ``i``: first 8 md5 hex
    digits of the salted window, as an int, ≡ 0 mod divisor."""
    win = F.substr(text, i - F.lit(window - 1), F.lit(window))
    h = F.conv(F.substring(F.md5(F.concat(F.lit(salt), win)), 1, 8), 16, 10)
    return h.cast("long") % divisor == 0


def chunk_documents(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 16,
    divisor: int = 64,
    salt: str = "cdcc:",
) -> DataFrame:
    """(id, chunk_idx, chunk, chunk_md5) — content-defined chunks of
    every row with ``length(text) ≥ 1``. Entirely JVM-side higher-order
    functions; one row in → n_chunks rows out, no shuffle."""
    text = F.col(text_col)
    ln = F.length(text)
    cuts = F.when(
        ln - 1 >= window,
        F.filter(
            F.sequence(F.lit(window), ln - 1),
            lambda i: _window_cut(text, i, window, divisor, salt),
        ),
    ).otherwise(F.array().cast("array<int>"))
    # materialize the cut set under a name BEFORE fanning it into
    # starts/ends: inlined, the O(len·window) md5 filter is duplicated
    # into both consumers (CollapseProject keeps the two projections
    # apart only when the shared alias is non-cheap and multiply
    # referenced — which this arrangement guarantees)
    based = df.filter(ln >= 1).select(
        F.col(id_col), text.alias("_t"), ln.alias("_ln"), cuts.alias("_cuts")
    )
    t = F.col("_t")
    ends = F.concat(F.col("_cuts"), F.array(F.col("_ln")))
    starts = F.concat(F.array(F.lit(0)), F.col("_cuts"))
    chunks = F.zip_with(
        starts, ends, lambda s, e: F.substr(t, s + 1, e - s)
    )
    out = (
        based.select(
            F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "chunk")
        )
        .withColumn("chunk_md5", F.md5("chunk"))
    )
    return out


def chunk_change_stats(
    old_df: DataFrame,
    new_df: DataFrame,
    *,
    key_col: str = "doc_id",
    text_col: str = "text",
    window: int = 16,
    divisor: int = 64,
    salt: str = "cdcc:",
) -> DataFrame:
    """Per-key change magnitude between two snapshots of the same
    corpus — the recrawl-scheduler's input: how much of each page
    actually changed since the last crawl. Chunk both versions, then
    per (key, chunk-md5) take the MULTISET intersection (min of the
    two occurrence counts); shared characters are what a chunk store
    would not re-transfer.

    Output: (key, old_chars, new_chars, shared_chars, change_ratio,
    change_class) where change_ratio = 1 − shared/new and the class is
    decided on INTEGERS (no float-boundary flake):

    - ``unchanged``: shared == old == new (chunk multisets identical)
    - ``minor``:     shared_chars·10 ≥ new_chars·7  (≥70 % retained)
    - ``major``:     otherwise (incl. new/emptied pages)

    Scale shape: two narrow chunking projections, one shuffle each to
    the per-(key, md5) counts, a full-outer join on that same
    (key, md5) key (co-partitioned — no extra exchange), and one
    partial-agg rollup to the key. Keys absent from one side roll up
    with that side's totals at 0 (page created / page emptied)."""
    def side(df, a):
        return (
            chunk_documents(
                df,
                id_col=key_col,
                text_col=text_col,
                window=window,
                divisor=divisor,
                salt=salt,
            )
            .groupBy(key_col, "chunk_md5")
            .agg(
                F.count(F.lit(1)).alias(f"c_{a}"),
                F.max(F.length("chunk")).alias(f"len_{a}"),
            )
        )

    o, n = side(old_df, "old"), side(new_df, "new")
    j = o.join(n, [key_col, "chunk_md5"], "full_outer").select(
        key_col,
        F.coalesce("c_old", F.lit(0)).alias("c_old"),
        F.coalesce("c_new", F.lit(0)).alias("c_new"),
        F.coalesce("len_old", "len_new").alias("ln"),
    )
    per_key = j.groupBy(key_col).agg(
        F.sum(F.col("c_old") * F.col("ln")).alias("old_chars"),
        F.sum(F.col("c_new") * F.col("ln")).alias("new_chars"),
        F.sum(F.least("c_old", "c_new") * F.col("ln")).alias("shared_chars"),
    )
    ratio = F.when(
        F.col("new_chars") > 0,
        F.round(
            F.lit(1.0)
            - F.col("shared_chars").cast("double")
            / F.col("new_chars").cast("double"),
            12,
        ),
    ).otherwise(F.lit(1.0))
    cls = (
        F.when(
            (F.col("shared_chars") == F.col("old_chars"))
            & (F.col("shared_chars") == F.col("new_chars")),
            F.lit("unchanged"),
        )
        .when(F.col("new_chars") == 0, F.lit("major"))  # page emptied
        .when(
            F.col("shared_chars") * 10 >= F.col("new_chars") * 7,
            F.lit("minor"),
        )
        .otherwise(F.lit("major"))
    )
    return per_key.select(
        key_col,
        "old_chars",
        "new_chars",
        "shared_chars",
        ratio.alias("change_ratio"),
        cls.alias("change_class"),
    )


def chunk_dedup_stats(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 16,
    divisor: int = 64,
    salt: str = "cdcc:",
) -> DataFrame:
    """Per-doc chunk-dedup rollup: (id, n_chunks, dup_chunks,
    dup_chars) where a duplicate is any occurrence that is not its
    chunk's corpus-wide keeper (min ``id·KEY_BASE + idx``).
    ``dup_chars`` is the character count a chunk store would not
    re-write — the dedup-savings metric."""
    occ = chunk_documents(
        df,
        id_col=id_col,
        text_col=text_col,
        window=window,
        divisor=divisor,
        salt=salt,
    ).select(
        id_col,
        "chunk_md5",
        # widen first: an int id times KEY_BASE wraps 32-bit arithmetic
        (F.col(id_col).cast("long") * KEY_BASE + F.col("chunk_idx")).alias(
            "okey"
        ),
        F.length("chunk").alias("chunk_len"),
    )
    keepers = occ.groupBy("chunk_md5").agg(F.min("okey").alias("keeper"))
    return (
        occ.join(keepers, "chunk_md5")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(
                F.when(F.col("okey") != F.col("keeper"), 1).otherwise(0)
            ).alias("dup_chunks"),
            F.sum(
                F.when(
                    F.col("okey") != F.col("keeper"), F.col("chunk_len")
                ).otherwise(0)
            ).alias("dup_chars"),
        )
    )
