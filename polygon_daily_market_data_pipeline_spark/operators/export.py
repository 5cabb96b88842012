"""Training export: the hand-off from Spark to a training loader.

Loaders want rows of a predictable token length and a mix that is
REPRODUCIBLE per seed (epoch N must be re-creatable). ``rand()`` breaks
that under retries and repartitioning; the deterministic shuffle key is
the same md5 trick as sampling: ``md5(seed || key)`` gives a uniform,
engine-independent total order, ``repartitionByRange`` on it makes the
partition ASSIGNMENT deterministic, and ``sortWithinPartitions`` makes
the ORDER within each partition deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pack_sequences(
    chunks: DataFrame,
    target_tokens: int,
    id_col: str = "chunk_id",
    text_col: str = "chunk_text",
    tokens_col: str = "n_tokens",
    seed: int = 0,
) -> DataFrame:
    """Greedy sequence packing: concatenate chunks into training rows
    of ≤ ``target_tokens`` (a chunk longer than the budget gets a row
    of its own — packers truncate downstream, we never drop). Output:
    (seq_id string, text string, n_tokens long, n_chunks int).

    The packing itself is inherently sequential, so it runs per
    PARTITION (mapInPandas): chunks are first deterministically
    shuffled and range-partitioned by the md5(seed||id) key (module
    docstring) — so (a) the mix within each packed sequence is
    random-but-reproducible per seed, (b) partitions pack
    independently, no coordination, and (c) the only waste is one
    partial bin per partition (negligible: bins-per-partition ≫ 1 at
    any real scale). seq_id = partition id + local bin index —
    deterministic for a given (data, seed, partitioning)."""
    key = F.md5(F.concat(F.lit(str(seed) + ":"), F.col(id_col).cast("string")))
    arranged = (
        chunks.select(
            F.col(id_col), F.col(text_col), F.col(tokens_col), key.alias("__k")
        )
        .repartitionByRange(chunks.sparkSession.sparkContext.defaultParallelism, "__k")
        .sortWithinPartitions("__k")
    )

    def pack(batches):
        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        bins = []  # (texts, tokens)
        cur_t, cur_n, cur_texts = 0, 0, []
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                t = int(getattr(r, tokens_col))
                if cur_texts and cur_t + t > target_tokens:
                    bins.append((cur_texts, cur_t, cur_n))
                    cur_t, cur_n, cur_texts = 0, 0, []
                cur_texts.append(str(getattr(r, text_col)))
                cur_t += t
                cur_n += 1
        if cur_texts:
            bins.append((cur_texts, cur_t, cur_n))
        yield pd.DataFrame(
            {
                "seq_id": [f"p{pid:05d}-b{i:06d}" for i in range(len(bins))],
                "text": ["\n\n".join(texts) for texts, _t, _n in bins],
                "n_tokens": [t for _x, t, _n in bins],
                "n_chunks": [n for _x, _t, n in bins],
            }
        )

    return arranged.mapInPandas(
        pack, "seq_id string, text string, n_tokens long, n_chunks int"
    )
