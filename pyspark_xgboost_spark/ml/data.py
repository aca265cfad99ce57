"""Arrow-batch → feature-matrix assembly (reference data.py rewrite).

Inside ``mapInArrow`` the data model is a stream of ``pyarrow``
RecordBatches: ``values`` is a ``list<float>`` column (one feature
vector per row), beside ``label`` and the optional ``weight``,
``baseMargin`` and ``validationIndicator`` columns. This module turns
them into the dense float32 matrix + label/weight/margin vectors the
kernel consumes without a per-row Python object: the list column's flat
values child is viewed zero-copy and reshaped to ``(n, f)``, and the
uniform feature dimensionality (reference data.py:120-130) is checked on
the list offsets. Train/validation rows are split by the boolean
indicator, partition-locally (reference data.py:158-160). pandas
DataFrames are accepted too and converted to RecordBatches on entry.
"""

from __future__ import annotations

from collections.abc import Iterable

import numpy as np
import pandas as pd
import pyarrow as pa


class MatrixBundle:
    __slots__ = ("X", "y", "w", "base_margin")

    def __init__(self, X, y, w, base_margin):
        self.X = X
        self.y = y
        self.w = w
        self.base_margin = base_margin


def _feature_matrix(chunks: list[pa.ListArray]) -> np.ndarray:
    """``list<float>`` chunks → ``(n, f)`` float32; zero-copy for one
    null-free chunk."""
    lens = np.concatenate([np.diff(np.asarray(c.offsets)) for c in chunks])
    dims = np.unique(lens)
    if len(dims) != 1:
        raise ValueError(
            f"feature vectors have inconsistent dimensions: {dims.tolist()} "
            "(all rows must share one dimensionality)"
        )
    flats = [c.flatten() for c in chunks]
    flat = flats[0] if len(flats) == 1 else pa.concat_arrays(flats)
    X = flat.to_numpy(zero_copy_only=False)
    return X.astype(np.float32, copy=False).reshape(len(lens), int(dims[0]))


def batches_to_matrices(
    batches: Iterable[pa.RecordBatch | pd.DataFrame],
    has_weight: bool = False,
    has_base_margin: bool = False,
    has_validation: bool = False,
) -> tuple[MatrixBundle, MatrixBundle | None]:
    """Concatenate an Arrow-batch iterator into (train, validation)
    matrix bundles. Validation is None unless has_validation."""
    parts = [
        pa.RecordBatch.from_pandas(b, preserve_index=False) if isinstance(b, pd.DataFrame) else b
        for b in batches
    ]
    parts = [b for b in parts if b.num_rows]
    if not parts:
        empty = MatrixBundle(np.empty((0, 0), np.float32), np.empty(0), None, None)
        return empty, (empty if has_validation else None)
    table = pa.Table.from_batches(parts)

    def column(name: str) -> np.ndarray:
        return table.column(name).to_numpy().astype(np.float64, copy=False)

    X = _feature_matrix(table.column("values").chunks)
    y = column("label") if "label" in table.column_names else np.empty(0)
    w = column("weight") if has_weight else None
    bm = column("baseMargin") if has_base_margin else None
    if not has_validation:
        return MatrixBundle(X, y, w, bm), None

    mask = table.column("validationIndicator").fill_null(False).to_numpy(zero_copy_only=False)

    def rows(sel: np.ndarray) -> MatrixBundle:
        return MatrixBundle(
            X[sel], y[sel] if len(y) else y,
            None if w is None else w[sel], None if bm is None else bm[sel],
        )

    return rows(~mask), rows(mask)
