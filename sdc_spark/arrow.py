"""One per-row Arrow stage: ``map_rows(df, fn, schema)``.

SDC writes an element kernel once and lets the compiler lift it over the
array. ``map_rows`` is that lift for Spark: a decoder or payload
synthesizer is a plain Python function of one row, and this module owns
the ``mapInPandas`` loop, the poison-pill discipline and the output
dtypes.

Contract:

- The key is the first input column and the first ``schema`` field.
  ``fn`` is called with the row's other input values, in column order,
  and returns the row's non-key output values: one tuple, or a list of
  tuples for 0..n output rows (a video stage emits one row per sampled
  frame). ``map_rows`` puts the key in front of each.
- ``fn`` raising ``NotImplementedError`` fails the task: the worker lacks
  a codec, and answering with nulls would hide a deployment fault.
- Any other exception is a malformed payload (a poison pill): the row
  yields one output row, the key plus nulls, and the batch goes on.
- The pandas dtypes come from the DDL: ``int`` -> ``Int32``,
  ``bigint``/``long`` -> ``Int64``, ``double`` -> ``float64``, anything
  else object. A plain ``pd.DataFrame(rows)`` turns a long column that
  holds a null into float64, which rounds a 64-bit value such as a
  perceptual hash to the nearest double.

Batch-level stages (``order``'s grouped passes, ``webdataset``, ``bpe``,
``ml.gram_partials``, the ``frame`` UDFs) keep their own ``mapInPandas``
/ ``applyInPandas`` closures: they work on whole partitions, not rows.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame

_DTYPES = {"int": "Int32", "bigint": "Int64", "long": "Int64", "double": "float64"}


def _fields(schema: str) -> list[tuple[str, str]]:
    """(name, type) of each top-level field of a DDL schema string."""
    out, depth, start = [], 0, 0
    for i, ch in enumerate(schema + ","):
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            name, typ = schema[start:i].split(None, 1)
            out.append((name, typ.strip().lower()))
            start = i + 1
    return out


def map_rows(df: DataFrame, fn: Callable, schema: str) -> DataFrame:
    """Run the per-row ``fn`` over ``df`` as one Arrow stage (see the
    module docstring for the contract)."""
    fields = _fields(schema)
    names = [n for n, _ in fields]
    dtypes = [_DTYPES.get(t, "object") for _, t in fields]
    nulls = (None,) * (len(fields) - 1)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for key, *values in pdf.itertuples(index=False, name=None):
                try:
                    out = fn(*values)
                except NotImplementedError:
                    raise
                except Exception:  # noqa: BLE001 — poison pill: key + nulls
                    out = nulls
                if isinstance(out, list):
                    rows.extend((key, *o) for o in out)
                else:
                    rows.append((key, *out))
            cols = list(zip(*rows)) or [()] * len(names)
            yield pd.DataFrame(
                {n: pd.Series(c, dtype=d) for n, c, d in zip(names, cols, dtypes)}
            )

    return df.mapInPandas(run, schema)
