"""Spark stage around the batched model harness.

:func:`arrow_model_stage` runs a model over a DataFrame with
``mapInArrow``, re-chunking rows ACROSS Arrow record batches into the
fixed-size calls of :class:`FixedBatcher` (kernels/model_harness.py holds
the executor-local singleton, the batcher and pad-by-repeat; they are
re-exported here).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

from ..kernels.model_harness import FixedBatcher, ModelSpec, get_model  # noqa: F401


def arrow_model_stage(
    df,
    spec: ModelSpec,
    item_fn: Callable[[dict], Any],
    forward: Callable[[Any, list], list],
    result_fn: Callable[[dict, Any], dict],
    out_schema,
    on_complete: Callable[[int, int], None] | None = None,
):
    """Generic model-inference stage: ``mapInArrow`` over ``df``, batching
    rows across Arrow record batches into fixed-size ``forward`` calls.

    - item_fn(row_dict) -> model input item
    - forward(model, items) -> one result per item
    - result_fn(row_dict, result) -> output row dict matching out_schema

    Output record batches are emitted per completed model batch, so the
    stage streams (bounded memory) regardless of input partition size.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(out_schema)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        batcher = FixedBatcher(spec, forward)
        pending: list[dict] = []  # rows awaiting their model result, in order
        done: list[dict] = []
        n_rows = 0

        def drain(results: Iterator[Any]) -> None:
            for res in results:
                done.append(result_fn(pending.pop(0), res))

        for rb in batches:
            for row in rb.to_pylist():
                pending.append(row)
                n_rows += 1
                drain(batcher.add(item_fn(row)))
            if done:
                yield pa.RecordBatch.from_pylist(done, schema=arrow_schema)
                done = []
        drain(batcher.finish())
        if on_complete is not None:
            on_complete(n_rows, batcher.n_forward_calls)
        if done:
            yield pa.RecordBatch.from_pylist(done, schema=arrow_schema)

    return df.mapInArrow(fn, out_schema)
