"""The workloads: seeded inputs, one validation call, its check.

Each workload builds its inputs from the seed (``prepare``), then runs
``call`` in a closed loop.  ``check`` compares what a call returned or wrote
with an expected value from ``oracle`` and attributes the backend from the
executed plan; it runs outside the timed region.  Calls go through the
package's public validation API as module attributes, so a traced run's
wrappers see them.
"""

from __future__ import annotations

import copy
import json
import os
import random
import shutil

from pyspark.sql import functions as F

import json_schema_clj_spark.engine as engine
import json_schema_clj_spark.manifest as manifest
import json_schema_clj_spark.operators.validate as V
from json_schema_clj_spark.queries import LINEITEM_SCHEMA
from json_schema_clj_spark.sources.images import FLAGSHIP_SCHEMA, images_df

from . import oracle
from .trace import python_nodes

IMAGE_COLS = ("image_id", "bytes", "w", "h", "fmt", "caption", "phash")


def collect(tr, df):
    """Plan, then run: the plan span ends at ``executedPlan()``, which the
    collect below reuses."""
    with tr.span("executedPlan", "plan"):
        df._jdf.queryExecution().executedPlan()
    with tr.span("collect", "execute"):
        return df.collect()


def plan_string(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class Workload:
    name = ""
    rows_per_call = 0
    warmup_calls = 2  # untimed calls before the timed window; the first runs cold

    def __init__(self, spark, seed, work, tr):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tr = tr

    def prepare(self):
        """Generate and materialise the inputs (part of set-up)."""
        raise NotImplementedError

    def expect(self):
        """Compute expected values (not part of set-up)."""

    def call(self, k):
        raise NotImplementedError

    def check(self, k, out) -> tuple[list[str], dict]:
        """(problems, info); info may carry ``backend`` and ``violation_rows``."""
        raise NotImplementedError


class ImagesTable(Workload):
    """The production job shape of ``jobs/validate_submit.py
    --skip-table-checks``: resumable chunks, a parquet violation sink and one
    manifest commit per chunk."""

    name = "images_table"
    rows_per_call = 100_000
    n_parts = 4
    chunk_size = 2
    # its calls keep getting faster up to about the fifth
    warmup_calls = 5

    def prepare(self):
        self.input = os.path.join(self.work, "images")
        images_df(self.spark, self.rows_per_call, n_parts=self.n_parts, seed=self.seed).write.mode(
            "overwrite"
        ).parquet(self.input)
        self.df = self.spark.read.parquet(self.input)
        self.snapshot = manifest.snapshot_id_of(self.df)

    def expect(self):
        self.golden_kw = oracle.flagship_keyword_counts(self.rows_per_call)
        self.golden_parts = oracle.flagship_part_verdicts(self.rows_per_call, self.n_parts)

    def call(self, k):
        spark, tr = self.spark, self.tr
        out = os.path.join(self.work, f"run-{k}")
        run_id = f"call{k}"

        def process_chunk(chunk, parts):
            with tr.span("process_chunk", "call"):
                validated = V.with_validation(
                    chunk.withColumn("row_id", F.monotonically_increasing_id()), FLAGSHIP_SCHEMA
                )
                chunk_dir = f"{out}/violations/run_id={run_id}/snap={self.snapshot}/chunk={min(parts)}"
                vio = V.violation_rows(
                    validated, ["image_id", "part_id", "row_id"],
                    prefilter=~F.col("valid"), with_ordinal=True,
                )
                with tr.span("write", "execute"):
                    vio.write.mode("overwrite").parquet(chunk_dir)
                n_rows = chunk.groupBy("part_id").agg(F.count(F.lit(1)).alias("n_rows"))
                n_fail = (
                    spark.read.schema(vio.schema).parquet(chunk_dir)
                    .where(F.col("v_ord") == 0)
                    .groupBy("part_id")
                    .agg(F.count(F.lit(1)).alias("n_fail"))
                )
                return n_rows.join(n_fail, "part_id", "left").select(
                    F.col("part_id").cast("long").alias("part"),
                    "n_rows",
                    F.coalesce("n_fail", F.lit(0)).cast("long").alias("n_fail"),
                )

        result = manifest.run_resumable(
            spark, self.df, part_col="part_id", process_chunk=process_chunk,
            manifest_path=f"{out}/manifest", run_id=run_id, snapshot_id=self.snapshot,
            chunk_size=self.chunk_size,
        )
        return {"out": out, "result": result}

    def check(self, k, out):
        problems = []
        if sorted(out["result"]["processed"]) != list(range(self.n_parts)):
            problems.append(f"processed parts {out['result']['processed']}")
        kw, parts = oracle.images_sink_counts(
            f"{out['out']}/violations/**/*.parquet", f"{out['out']}/manifest/*.parquet"
        )
        if kw != self.golden_kw:
            problems.append(f"sink keyword counts {kw} != {self.golden_kw}")
        got = {p: (n, f) for p, n, f in parts}
        if len(parts) != self.n_parts or got != self.golden_parts:
            problems.append(f"manifest verdicts {sorted(parts)} != {self.golden_parts}")
        shutil.rmtree(out["out"], ignore_errors=True)
        return problems, {"violation_rows": sum(kw.values())}


class _JsonDocs(Workload):
    """``to_json`` of seeded image rows, one document per row, with the
    row's partition id beside it; validated into per-partition verdicts."""

    n_parts = 16
    schema: dict = FLAGSHIP_SCHEMA
    backend = ""

    def prepare(self):
        self.input = os.path.join(self.work, "docs")
        rows = images_df(self.spark, self.rows_per_call, n_parts=self.n_parts, seed=self.seed)
        rows.select(
            "part_id", F.to_json(F.struct(*IMAGE_COLS)).alias("doc")
        ).write.mode("overwrite").parquet(self.input)
        self.df = self.spark.read.parquet(self.input)

    def call(self, k):
        validated = engine.validate_json_column(self.df, self.schema, json_col="doc")
        verdicts = V.verdicts(validated, "part_id")
        return {"rows": collect(self.tr, verdicts), "df": verdicts}

    def check(self, k, out):
        problems = []
        got = {int(r["part_id"]): (int(r["n_rows"]), int(r["n_fail"])) for r in out["rows"]}
        if got != self.expected:
            problems.append(f"verdicts {sorted(got.items())} != {sorted(self.expected.items())}")
        if any(r["pass"] != (r["n_fail"] == 0) for r in out["rows"]):
            problems.append("pass flag disagrees with n_fail")
        backend = "python" if python_nodes(plan_string(out["df"])) else "variant"
        if backend != self.backend:
            problems.append(f"ran on the {backend} backend, expected {self.backend}")
        return problems, {"backend": backend}


class JsonVariant(_JsonDocs):
    name = "json_variant"
    rows_per_call = 20_000
    backend = "variant"

    def expect(self):
        self.expected = oracle.flagship_part_verdicts(self.rows_per_call, self.n_parts)


# h is bounded by the same document's w: a $data bound, which the Variant
# compiler rejects, so auto dispatch falls back to the Arrow pandas UDF
DATA_BOUND_SCHEMA = copy.deepcopy(FLAGSHIP_SCHEMA)
DATA_BOUND_SCHEMA["properties"]["h"]["maximum"] = {"$data": "1/w"}


class JsonPython(_JsonDocs):
    name = "json_python"
    rows_per_call = 60_000
    schema = DATA_BOUND_SCHEMA
    backend = "python"

    def expect(self):
        self.expected = oracle.data_bound_part_verdicts(os.path.join(self.input, "*.parquet"))


PATTERNS = ("^[OF]$", "^(O|F)$", "^O$", "^F$", "^[A-O]$", "^[F-Z]$", "O", "^[^O]$")


def schema_params(rng: random.Random) -> dict:
    # a fixed enum size keeps the compile work of every schema the same
    flags = sorted(rng.sample("ANRX", 3))
    return {
        "qty_min": rng.randint(1, 5),
        "qty_max": rng.randint(40, 49),
        "disc_min": rng.choice((0.0, 0.01)),
        "disc_max": round(rng.randint(4, 9) * 0.01, 2),
        "flags": flags,
        "pattern": rng.choice(PATTERNS),
        "line_max": rng.randint(5, 7),
    }


def lineitem_schema(p: dict) -> dict:
    """LINEITEM_SCHEMA with thresholds, enum and pattern replaced."""
    s = copy.deepcopy(LINEITEM_SCHEMA)
    props = s["properties"]
    props["l_quantity"].update(minimum=p["qty_min"], maximum=p["qty_max"])
    props["l_discount"].update(minimum=p["disc_min"], maximum=p["disc_max"])
    props["l_returnflag"]["enum"] = list(p["flags"])
    props["l_linestatus"]["pattern"] = p["pattern"]
    props["l_linenumber"]["maximum"] = p["line_max"]
    return s


class SchemaChurn(Workload):
    """A stream of distinct lineitem schemas, each validated once against a
    small lineitem table into a keyword breakdown: every call compiles."""

    name = "schema_churn"
    rows_per_call = 6_000

    def __init__(self, *a):
        super().__init__(*a)
        self._rng = random.Random(self.seed)
        self._drawn: set[str] = set()
        self._seen: set[str] = set()
        self._params: dict = {}

    def _next_schema(self, k):
        # draws until the schema is new to this run, so every call misses
        # the compile cache; the check below asserts it from the schemas
        while True:
            p = schema_params(self._rng)
            s = lineitem_schema(p)
            key = json.dumps(s, sort_keys=True)
            if key not in self._drawn:
                self._drawn.add(key)
                self._params[k] = p
                return s

    def prepare(self):
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = np.random.default_rng(self.seed)
        n = self.rows_per_call
        table = pa.table({
            "l_orderkey": np.arange(1, n + 1, dtype=np.int64) // 4 + 1,
            "l_partkey": rng.integers(1, 200, n, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_discount": np.round(rng.integers(0, 11, n) * 0.01, 2),
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
            "l_linestatus": rng.choice(np.array(["O", "F"]), n),
        })
        self.input = os.path.join(self.work, "lineitem")
        shutil.rmtree(self.input, ignore_errors=True)
        os.makedirs(self.input)
        pq.write_table(table, os.path.join(self.input, "part-0.parquet"))
        self.df = self.spark.read.parquet(self.input)

    def call(self, k):
        schema = self._next_schema(k)
        validated = V.with_validation(self.df, schema)
        kb = V.keyword_breakdown(validated, prefilter=~F.col("valid"))
        return {"rows": collect(self.tr, kb), "df": kb, "schema": schema}

    def check(self, k, out):
        problems = []
        key = json.dumps(out["schema"], sort_keys=True)
        if key in self._seen:
            problems.append("schema repeats an earlier one in this run (compile cache would hit)")
        self._seen.add(key)
        got = {r["keyword_path"]: int(r["n_violations"]) for r in out["rows"]}
        want = oracle.lineitem_keyword_counts(
            os.path.join(self.input, "*.parquet"), self._params[k]
        )
        if got != want:
            problems.append(f"keyword counts {got} != {want}")
        if python_nodes(plan_string(out["df"])):
            problems.append("struct Column backend plan has Python-eval nodes")
        return problems, {"violation_rows": sum(got.values())}


WORKLOADS = {w.name: w for w in (ImagesTable, JsonVariant, JsonPython, SchemaChurn)}
