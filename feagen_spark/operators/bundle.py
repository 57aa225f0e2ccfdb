"""Data-bundle assembly (SURVEY.md §2.A A8-A9, §2.C C15).

feagen analogue (reconstructed — mount empty, SURVEY.md §0):
- ``get_data_keys_from_structure``  ≈ feagen/bundling.py (~L10-35,
  unverified): flatten a (possibly nested) bundle structure into the flat
  list of data keys to generate first.
- ``bundle``                        ≈ feagen/bundling.py::
  DataBundlerMixin.bundle (~L40-110, unverified): a LIST value in the
  structure means "horizontally concatenate these feature arrays along
  axis 1" (1-D promoted to a column). Column order is the list order —
  exactness requirement.

Spark-first: the axis-1 concat is a single ``select`` building one
``array<double>`` column via ``F.array``/``F.concat`` — no shuffle at
all; feagen's ``buffer_size`` chunked HDF5 copy is superseded by the
distributed write.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

Structure = Mapping[str, object]  # str | list[str] | nested Mapping


def get_data_keys_from_structure(structure: Structure) -> list[str]:
    """Flatten the bundle structure into the involved data keys (A8)."""
    keys: list[str] = []
    for v in structure.values():
        if isinstance(v, str):
            keys.append(v)
        elif isinstance(v, Mapping):
            keys.extend(get_data_keys_from_structure(v))
        elif isinstance(v, Sequence):
            for item in v:
                if not isinstance(item, str):
                    raise TypeError(f"bundle list entries must be str, got {item!r}")
                keys.append(item)
        else:
            raise TypeError(f"unsupported bundle structure value: {v!r}")
    return keys


def _as_array(df: DataFrame, col: str) -> Column:
    """Promote a column to array<double>: scalars become length-1 arrays,
    numeric arrays are element-cast (feagen's 1-D → column promotion)."""
    dt = df.schema[col].dataType
    if isinstance(dt, T.ArrayType):
        return F.transform(F.col(col), lambda x: x.cast("double"))
    return F.array(F.col(col).cast("double"))


def _structure_cols(df: DataFrame, structure: Structure, prefix: str) -> list[Column]:
    cols: list[Column] = []
    for name, v in structure.items():
        out = f"{prefix}{name}"
        if isinstance(v, str):
            cols.append(F.col(v).alias(out))
        elif isinstance(v, Mapping):
            cols.extend(_structure_cols(df, v, prefix=f"{out}_"))
        elif isinstance(v, Sequence):
            arrays = [_as_array(df, item) for item in v]
            cols.append(F.concat(*arrays).alias(out))
        else:
            raise TypeError(f"unsupported bundle structure value: {v!r}")
    return cols


def bundle(
    df: DataFrame,
    structure: Structure,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Assemble the bundle table from a frame holding all involved columns.

    str value  → copied through as its own column (dataset copy);
    list value → ONE array<double> column, axis-1 concat in list order;
    nested map → flattened with ``outer_`` name prefixing (HDF5 group
    analogue). Row identity columns ``keys`` are carried through first.
    """
    cols = [F.col(k) for k in keys] + _structure_cols(df, structure, prefix="")
    return df.select(*cols)


# -- sparse blocks (feagen h5sparse analogue) ----------------------------------

def to_sparse(dense: Column) -> Column:
    """array<double> → CSR-row struct (size, indices, values), dropping
    zeros. Pure JVM (transform with element index + filter): no UDF, no
    shuffle — the Spark-native twin of feagen's h5sparse storage for
    one-hot / TF-IDF style blocks where most entries are zero."""
    pairs = F.filter(
        F.transform(
            dense,
            lambda v, i: F.struct(
                i.cast("int").alias("i"), v.cast("double").alias("v")
            ),
        ),
        lambda p: p["v"] != 0.0,
    )
    return F.struct(
        F.size(dense).cast("int").alias("size"),
        F.transform(pairs, lambda p: p["i"]).alias("indices"),
        F.transform(pairs, lambda p: p["v"]).alias("values"),
    )


def bundle_sparse(
    df: DataFrame,
    structure: Structure,
    keys: Sequence[str] = (),
) -> DataFrame:
    """:func:`bundle` with every LIST value emitted as a sparse CSR-row
    struct instead of a dense array (str/nested-map values unchanged).
    Sized for one-hot/TF-IDF blocks: shuffle and storage bytes scale
    with nnz, not with the vocabulary width."""
    out = bundle(df, structure, keys=keys)
    list_outs = _list_output_names(structure, prefix="")
    cols = [
        to_sparse(F.col(f.name)).alias(f.name)
        if f.name in list_outs
        else F.col(f.name)
        for f in out.schema.fields
    ]
    return out.select(*cols)


def _list_output_names(structure: Structure, prefix: str) -> set[str]:
    """Output column names produced by LIST values (the concat blocks);
    str-valued pass-through columns keep their native type even when
    they are arrays."""
    names: set[str] = set()
    for name, v in structure.items():
        out = f"{prefix}{name}"
        if isinstance(v, Mapping):
            names |= _list_output_names(v, prefix=f"{out}_")
        elif not isinstance(v, str) and isinstance(v, Sequence):
            names.add(out)
    return names


def one_hot(col: Column | str, vocabulary: Sequence[str]) -> Column:
    """Fixed-vocabulary one-hot encoding as array<double> (JVM-side;
    out-of-vocabulary AND NULL categories encode as all zeros — without
    the coalesce, NULL == lit(v) is NULL for every position, handing
    dense-path consumers an all-NULL array). Materialize it as a column
    and list it in a bundle structure; with ``bundle_sparse`` the stored
    block is nnz-sized."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array(
        *[
            F.coalesce((c == F.lit(v)).cast("double"), F.lit(0.0))
            for v in vocabulary
        ]
    )
