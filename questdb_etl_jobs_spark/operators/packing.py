"""Sequence packing: map documents into fixed-token-budget training bins.

LLM pretraining concatenates documents per shard and slices the stream
into fixed-size context windows. This operator computes, per document,
which window (bin) its first token lands in and how many window
boundaries it crosses — the concat-then-chunk model (GPT-style packing),
not first-fit bin packing: a true greedy "open a new bin when the doc
doesn't fit" is a sequential scan with a data-dependent carry, which
cannot be expressed as a window function and would serialize the corpus;
concat-then-chunk is what large-scale pipelines actually do, and it is
one cumulative-sum window per shard.

Scale: the only shuffle is the hash partition on ``shard_col``; each
shard's window state is a running BIGINT. Shard count is the
parallelism knob — derive it from the corpus size (e.g.
``pmod(doc_id, n_shards)``) so no shard's token stream outgrows a task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from questdb_etl_jobs_spark import sqltext


def pack_sequences(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    budget: int,
    shard_col: str | None = None,
) -> DataFrame:
    """Assign each document its packing position.

    Documents are laid out per shard in ``id_col`` order (deterministic —
    reruns produce identical packing). Adds:

    - ``bin``        — window index of the document's first token;
    - ``bin_offset`` — token offset of the document within that window;
    - ``n_spans``    — how many window boundaries the document crosses
      (0 = fits inside one window).
    """
    shard = [shard_col] if shard_col else []
    w = (
        Window.partitionBy(*shard)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = (F.sum(tokens_col).over(w) - F.col(tokens_col)).alias("__start")
    out = df.withColumn("__start", start)
    # Integer division (DIV), not floor(double /): token offsets at corpus
    # scale can pass 2^53 where double division loses exactness.
    return (
        out.withColumn("bin", F.expr(f"__start DIV {sqltext.literal(budget)}"))
        .withColumn("bin_offset", F.col("__start") % budget)
        .withColumn(
            "n_spans",
            F.expr(
                f"(__start + {sqltext.ident(tokens_col)} - 1) "
                f"DIV {sqltext.literal(budget)}"
            )
            - F.col("bin"),
        )
        .drop("__start")
    )
