"""Greedy sequence packing — fill fixed-size token windows from ordered
document streams (the batch-construction step of LLM training-data prep:
concatenate docs into ~context-length bins with minimal padding).

Packing a stream is an inherently sequential fold (each doc's bin depends on
the running total), so it cannot be a native Spark expression; the scalable
shape is **parallel across streams, sequential within**: one
``applyInPandas`` per stream/group, Arrow-batched, with the per-group fold a
tight loop over a numpy array.  At 100 TB the group key is the shard/stream
id, so every executor packs its own shards independently — no shuffle beyond
the one groupBy, no driver involvement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def pack_greedy(df: DataFrame, group_col: str, order_col: str, tok_col: str,
                capacity: int, out_col: str = "bin_id") -> DataFrame:
    """Assign each row a bin id: rows are taken in ``order_col`` order within
    each ``group_col`` stream; a row that would push the running token total
    over ``capacity`` starts a new bin (an oversized row gets a bin alone).

    Returns the input columns plus ``out_col`` (long).
    """
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in df.schema.fields)
    schema = f"{fields}, {out_col} long"

    def pack(pdf):
        import numpy as np

        pdf = pdf.sort_values(order_col, kind="mergesort").reset_index(drop=True)
        toks = pdf[tok_col].to_numpy()
        bins = np.empty(len(toks), dtype="int64")
        acc, b = 0, 0
        for i, t in enumerate(toks):
            t = int(t)
            if i > 0 and acc + t > capacity:
                b += 1
                acc = t
            else:
                acc += t
            bins[i] = b
        pdf[out_col] = bins
        return pdf

    return df.groupBy(group_col).applyInPandas(pack, schema=schema)
