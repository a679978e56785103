"""The Variant view: dynamic JSON validation as pure Catalyst, no Python in
the loop.

Where the struct view (plans/compiler.py) needs a known Spark shape, this
view validates ARBITRARY JSON: ``parse_json`` keeps every value's runtime
type, ``schema_of_variant`` is the per-value type dispatch (the Column
analog of the reference's clojure type predicates,
/root/reference/src/json_schema/core.clj:183-348), ``try_variant_get``
casts guarded by that dispatch extract typed reads, and
``map<string,variant>`` / ``array<variant>`` casts expose objects and
arrays to the ordinary higher-order functions.

This module holds only the view (:class:`VariantView`) and the entry
points: every keyword is compiled by the one registry in
plans/compiler.py, which serves both views.

Parity notes / scope:
* JSON numbers: ``1`` → BIGINT (integer), ``1.0`` → DECIMAL (number, NOT
  integer) — the reference's 1 ≠ 1.0 semantics fall out of the variant
  type system directly.  (Limitation: integers beyond int64 parse as
  DECIMAL(p,0) and are treated as non-integers.)
* Variant equality is not defined in Spark → enum/const compare typed
  casts under a type guard (json-compare semantics); non-scalar members
  raise :class:`ColumnBackendUnsupported` (engine falls back to the
  Python backend).
* ``uniqueItems`` canonicalizes elements via type tag + ``to_json``: the
  variant binary encoding stores object fields in canonical (sorted key)
  order, so ``to_json`` prints key-order-permuted objects identically at
  every nesting depth and duplicates differing only in key order ARE
  detected — Clojure ``=`` map semantics, pinned by
  tests/test_variant_backend.py::test_unique_items_object_key_order.
* ``$data``, unbounded ``$ref`` recursion and keywords registered for
  Column targets (:func:`~.compiler.register_keyword`) → unsupported
  (fallback).
"""

from __future__ import annotations

import json
from typing import Optional

from pyspark.sql import Column
from pyspark.sql import functions as F

from .compiler import ColumnBackendUnsupported, _compile, _i64_guard, _is_data, _unless
from .ir import Compiled, Ctx, _typed_empty_array, simple_check


class VariantView:
    """A ``VariantType`` value.  Nothing is known about it statically, so
    every predicate is a runtime ``schema_of_variant`` test.  Each derived
    Column is built at most once per view: Column construction is Py4J
    traffic, and keywords share the type tag and the typed reads."""

    dtype = None

    def __init__(self, col: Column):
        self.col = col
        self._memo: dict = {}

    def _once(self, key, build) -> Column:
        if key not in self._memo:
            self._memo[key] = build()
        return self._memo[key]

    def _get(self, sql_type: str) -> Column:
        return self._once(sql_type, lambda: F.try_variant_get(self.col, "$", sql_type))

    def _tag(self) -> Column:
        """Per-value type tag: VOID/BOOLEAN/BIGINT/DECIMAL.../DOUBLE/STRING/
        OBJECT<...>/ARRAY<...>; SQL NULL for an absent value."""
        return self._once("tag", lambda: F.schema_of_variant(self.col))

    def _json_null(self) -> Column:
        """JSON null (present); absent values are SQL NULL."""
        return self._once("void", lambda: self._tag() == F.lit("VOID"))

    # -- type predicates --------------------------------------------------

    def is_type(self, jtype: str) -> Optional[Column]:
        def build():
            t = self._tag()
            if jtype == "null":
                return self._json_null() | self.col.isNull()
            if jtype == "string":
                return t == F.lit("STRING")
            if jtype == "boolean":
                return t == F.lit("BOOLEAN")
            if jtype == "integer":
                return t == F.lit("BIGINT")
            if jtype == "number":
                return (t == "BIGINT") | t.startswith("DECIMAL") | (t == "DOUBLE") | (t == "FLOAT")
            if jtype == "object":
                return t.startswith("OBJECT")
            if jtype == "array":
                return t.startswith("ARRAY")
            return None

        return self._once(("is", jtype), build)

    def inapplicable(self, jtype: str) -> Column:
        return self._once(("skip", jtype), lambda: ~self.is_type(jtype) | self.col.isNull())

    def guard(self, jtype: str, c: Optional[Compiled], mismatch=None) -> Compiled:
        """`c` for present `jtype` values, a pass for absent ones; values
        of another JSON type pass, or fail with the ``mismatch()``
        violation."""
        if mismatch is None:
            return _unless(self.inapplicable(jtype), c)
        c = c or Compiled.passed()
        other = ~self.is_type(jtype)
        return Compiled(
            ok=F.when(self.col.isNull(), F.lit(True)).when(other, F.lit(False)).otherwise(c.ok),
            violations=F.when(self.col.isNull(), _typed_empty_array())
            .when(other, mismatch())
            .otherwise(c.violations),
        )

    # -- typed reads --------------------------------------------------------

    def as_string(self) -> Column:
        return self._get("string")

    def as_number(self) -> Column:
        return self._get("double")

    def as_decimal(self) -> Column:
        return self._get("decimal(38,10)")

    def as_long(self) -> Column:
        return self._get("bigint")

    def as_bool(self) -> Column:
        return self._get("boolean")

    def as_map(self) -> Column:
        return self._get("map<string,variant>")

    def as_array(self) -> Column:
        return self._get("array<variant>")

    def as_text(self) -> Column:
        """The value as the struct view prints it: strings unquoted,
        objects and arrays as JSON, and fractional numbers through double
        — JSON ``0.0`` is a DECIMAL(1,0) variant, whose own text is
        ``0``."""
        fractional = self.is_type("number") & ~self.is_type("integer")
        return F.when(fractional, self.as_number().cast("string")).otherwise(self.col.cast("string"))

    # -- presence ---------------------------------------------------------

    def present(self) -> Column:
        """Present AND not JSON null — has-property? semantics
        (core.clj:852-854: nil counts as missing)."""
        return self._once("present", lambda: self.col.isNotNull() & ~self._json_null())

    def exists(self) -> Column:
        """The key exists, even with a JSON null value (`contains?`)."""
        return self.col.isNotNull()

    def absent(self) -> Column:
        return ~self.present()

    # -- object and array access -------------------------------------------

    def field_names(self) -> None:
        return None  # keys are only known per row: see as_map

    def field(self, key: str) -> "VariantView":
        return self._once(("field", key), lambda: VariantView(F.element_at(self.as_map(), F.lit(key))))

    def entry(self, value: Column) -> "VariantView":
        return VariantView(value)

    def property_count(self) -> Column:
        return F.size(self.as_map())

    def element(self, x: Column) -> "VariantView":
        return VariantView(x)

    # -- typed equality (json-compare, core.clj:472-478: strict numeric
    # identity) -----------------------------------------------------------

    def equals(self, member) -> Column:
        if member is None:
            return self._json_null()
        if isinstance(member, bool):
            return self.is_type("boolean") & (self.as_bool() == F.lit(member))
        if isinstance(member, int):
            return self.is_type("integer") & (self.as_long() == F.lit(_i64_guard(member)))
        if isinstance(member, float):
            return (self.is_type("number") & ~self.is_type("integer")) & (self.as_number() == F.lit(member))
        if isinstance(member, str):
            return self.is_type("string") & (self.as_string() == F.lit(member))
        raise ColumnBackendUnsupported(f"non-scalar literal {member!r} on the variant backend")

    def one_of(self, values: list) -> Column:
        ok = F.lit(False)
        for m in values:
            ok = ok | self.equals(m)
        return ok

    def unique_form(self) -> Column:
        # canonical form = type tag + json: keeps 1 ≠ 1.0 (to_json alone
        # prints both as "1")
        return F.transform(self.as_array(), lambda x: F.concat_ws(":", F.schema_of_variant(x), F.to_json(x)))

    def member_forms(self, values: list) -> tuple:
        return (
            F.transform(self.as_array(), lambda x: F.to_json(x)),
            F.array(*[F.lit(json.dumps(m)) for m in values]),
        )

    # -- compile-time hooks -------------------------------------------------

    def data(self, value, ctx: Ctx):
        if _is_data(value):
            raise ColumnBackendUnsupported("$data on the variant backend")
        return None

    def admit(self, schema: dict) -> None:
        """Reject a subschema holding a `$data` value before any of its
        Columns is built."""
        if any(_is_data(v) for v in schema.values()):
            raise ColumnBackendUnsupported("$data on the variant backend")

    def column(self, keyword: str) -> Column:
        raise ColumnBackendUnsupported(
            f"keyword {keyword!r} is registered for typed Column targets; a Variant value needs the Python backend"
        )


# --- entry points --------------------------------------------------------------


def compile_variant(schema, v: Column, ctx: Ctx) -> Compiled:
    """Compile a (sub)schema against a VariantType Column."""
    return _compile(schema, VariantView(v), ctx)


def compile_for_json(
    schema: dict,
    json_col: Column,
    config: Optional[dict] = None,
    parsed_col: Optional[Column] = None,
) -> Compiled:
    """Compile a schema against a raw-JSON string column.

    Uses ``try_parse_json`` so one malformed record yields a per-row
    `$parse` violation instead of failing the whole job (``parse_json``
    raises MALFORMED_RECORD_IN_PARSING executor-side — at 10^12 rows a
    single bad record must not abort the run).  A malformed row fails
    with exactly the parse violation; the schema's checks are suppressed
    for it (the reference never validates a document that didn't parse).

    ``parsed_col``: pass an attribute that already holds
    ``try_parse_json(json_col)`` (materialized in its own projection).
    Without it, Catalyst inlines the parse into EVERY check reference —
    the check tree then re-parses the JSON string ~1× per keyword per row
    (measured 5× slower end to end).  ``engine.validate_json_column``
    always supplies it; direct callers of this function pay the re-parse."""
    v = parsed_col if parsed_col is not None else F.try_parse_json(json_col)
    ctx = Ctx(config=config or {}, root_schema=schema)
    inner = compile_variant(schema, v, ctx)
    malformed = json_col.isNotNull() & v.isNull()
    parse_check = simple_check(
        ~malformed, (), (), "$parse", "malformed JSON", "error"
    )
    # coalesce: a null ok (3-valued logic on a null doc) always carries a
    # violation in simple_check, so the row verdict is definitively False
    return Compiled(
        ok=F.when(malformed, F.lit(False)).otherwise(F.coalesce(inner.ok, F.lit(False))),
        violations=F.when(malformed, parse_check.violations).otherwise(inner.violations),
    )
