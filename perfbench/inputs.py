"""Seeded input generation for the ``iterative`` workload.

``write_tables`` writes the two catalog tables ``pagerank_copurchase``
reads, ``lineitem`` and ``supplier``, as parquet files with the column
names and types of the synthetic test data the engine is verified
against. Row counts follow the scale factor; values come only from the
seed, so the same seed gives byte-identical inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

TABLES = ("lineitem", "supplier")


def make_tables(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    n_supp = max(10, int(10_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    n_line = 4 * n_ord
    return {
        "lineitem": pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
                "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
                "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
            }
        ),
        "supplier": pd.DataFrame(
            {
                "s_suppkey": np.arange(n_supp, dtype="int64"),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            }
        ),
    }


def write_tables(out_dir: str, seed: int, sf: float) -> str:
    """Write the seeded tables as ``<out_dir>/<name>.parquet``; returns
    ``out_dir`` (the engine's ``sf_dir`` argument)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in make_tables(seed, sf).items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    return out_dir
