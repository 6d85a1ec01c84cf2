"""Schema-evolution compatibility gate (FIXTURES.md F6).

Allowed, applied by metadata only (no file rewrite):
- added columns (appended, nullable) — the lakehouse replacement for the
  reference's ``other_details`` JSON escape hatch (Loader.py:495-524);
- safe type widening: int→long (any integral up-widening), float→double.

Rejected with SchemaCompatibilityError (clean failure, no partial commit —
reference analog: schema-version gate Loader.py:448-493):
- type narrowing or cross-family changes (e.g. timestamp arriving as string);
- dropped non-nullable columns are fine to *omit* in incoming batches (they
  read as NULL for new files only if nullable) — an incoming batch missing a
  non-nullable column is rejected.
"""

from __future__ import annotations

from pyspark.sql import types as T


class SchemaCompatibilityError(Exception):
    pass


_INT_WIDTH = {
    "byte": 1,
    "short": 2,
    "integer": 3,
    "long": 4,
}
_FLOAT_WIDTH = {"float": 1, "double": 2}


def _widen(cur: T.DataType, new: T.DataType) -> T.DataType:
    """Return the evolved type, or raise."""
    if cur == new:
        return cur
    c, n = cur.typeName(), new.typeName()
    if c in _INT_WIDTH and n in _INT_WIDTH:
        return cur if _INT_WIDTH[c] >= _INT_WIDTH[n] else new
    if c in _FLOAT_WIDTH and n in _FLOAT_WIDTH:
        return cur if _FLOAT_WIDTH[c] >= _FLOAT_WIDTH[n] else new
    if c in _INT_WIDTH and n in _FLOAT_WIDTH:
        # int column receiving float data is a real change → widen to double
        return T.DoubleType()
    if c in _FLOAT_WIDTH and n in _INT_WIDTH:
        # float/double column receiving int data is lossless — keep the
        # current type (project() casts events up); a source that starts
        # emitting 5 instead of 5.0 must not halt the merge
        return cur
    raise SchemaCompatibilityError(
        f"incompatible type change: {cur.simpleString()} -> {new.simpleString()}"
    )


def check_schema_compatibility(
    current: T.StructType, incoming: T.StructType
) -> T.StructType:
    """Diff incoming batch schema against the table schema; return the evolved
    table schema (current ∪ additions, widened where needed) or raise."""
    cur_by_name = {f.name: f for f in current.fields}
    out = list(current.fields)
    for f in incoming.fields:
        if f.name.startswith("_"):  # engine-internal bookkeeping columns
            continue
        cur = cur_by_name.get(f.name)
        if cur is None:
            out.append(T.StructField(f.name, f.dataType, True))  # add: nullable
            continue
        widened = _widen(cur.dataType, f.dataType)
        if widened != cur.dataType:
            idx = [i for i, x in enumerate(out) if x.name == f.name][0]
            out[idx] = T.StructField(f.name, widened, cur.nullable, cur.metadata)
    for f in current.fields:
        if f.name.startswith("_"):
            continue
        if not f.nullable and f.name not in {x.name for x in incoming.fields}:
            raise SchemaCompatibilityError(
                f"incoming batch missing non-nullable column {f.name!r}"
            )
    return T.StructType(out)
