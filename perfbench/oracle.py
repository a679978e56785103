"""Expected verdicts that the engine under test does not produce.

* Images rows (``images_table``, ``json_variant``): closed form.  The
  generator plants each violation class on one residue of the row index
  mod 200 (``sources/images.py``, pinned by
  ``tests/test_flagship_images.py``), so keyword counts and per-partition
  failing-row counts follow from the index alone.
* ``json_python`` and ``schema_churn``: DuckDB SQL over the same parquet the
  engine reads, written from the same schema parameters.
"""

from __future__ import annotations

import numpy as np

# residue (row index mod 200) → flagship keyword paths violated on that row
FLAGSHIP_RESIDUES = {
    7: ("properties/image_id/pattern",),  # upper-cased id
    23: ("properties/w/minimum",),  # w = 0
    57: ("properties/w/maximum",),  # w = 70000
    91: ("properties/h/minimum",),
    123: ("properties/h/maximum",),
    141: ("properties/fmt/enum",),  # "bmp"
    173: ("properties/fmt/enum", "properties/fmt/type"),  # "" (blank-string quirk)
    87: ("properties/caption/type", "properties/caption/minLength"),  # ""
    # 63: NULL caption — optional property, no violation
}


def _rows_with_residue(n_rows: int, r: int) -> int:
    return n_rows // 200 + (1 if n_rows % 200 > r else 0)


def flagship_keyword_counts(n_rows: int) -> dict[str, int]:
    out: dict[str, int] = {}
    for r, paths in FLAGSHIP_RESIDUES.items():
        for p in paths:
            out[p] = out.get(p, 0) + _rows_with_residue(n_rows, r)
    return out


def flagship_part_verdicts(n_rows: int, n_parts: int) -> dict[int, tuple[int, int]]:
    """part → (n_rows, n_fail) for images_df(n_rows, n_parts) under
    FLAGSHIP_SCHEMA (part_id = index mod n_parts)."""
    i = np.arange(n_rows, dtype=np.int64)
    part = i % n_parts
    fail = np.isin(i % 200, list(FLAGSHIP_RESIDUES))
    rows = np.bincount(part, minlength=n_parts)
    fails = np.bincount(part, weights=fail, minlength=n_parts).astype(np.int64)
    return {p: (int(rows[p]), int(fails[p])) for p in range(n_parts)}


def _duckdb():
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def data_bound_part_verdicts(docs_glob: str) -> dict[int, tuple[int, int]]:
    """part → (n_rows, n_fail) for FLAGSHIP_SCHEMA with h.maximum bound to
    the document's own w (``{"$data": "1/w"}``), over the JSON documents."""
    sql = """
    WITH d AS (
      SELECT part_id,
             json_extract_string(doc, '$.image_id') AS image_id,
             json_extract(doc, '$.bytes') AS bytes,
             CAST(json_extract(doc, '$.w') AS BIGINT) AS w,
             CAST(json_extract(doc, '$.h') AS BIGINT) AS h,
             json_extract_string(doc, '$.fmt') AS fmt,
             json_extract_string(doc, '$.caption') AS caption
      FROM read_parquet(?)
    )
    SELECT part_id, count(*) AS n_rows,
           count(*) FILTER (WHERE NOT (
                 image_id IS NOT NULL AND bytes IS NOT NULL
             AND regexp_matches(image_id, '^img-[0-9a-f]{16}$')
             AND w BETWEEN 1 AND 65535
             AND h >= 1 AND h <= w
             AND fmt IN ('jpeg', 'png', 'webp')
             AND (caption IS NULL OR length(caption) BETWEEN 1 AND 512)
           )) AS n_fail
    FROM d GROUP BY part_id
    """
    con = _duckdb()
    try:
        rows = con.execute(sql, [docs_glob]).fetchall()
    finally:
        con.close()
    return {int(p): (int(n), int(f)) for p, n, f in rows}


def lineitem_keyword_counts(lineitem_glob: str, params: dict) -> dict[str, int]:
    """keyword path → violations of the mutated lineitem schema built from
    ``params`` (see workloads.lineitem_schema)."""
    flags = ", ".join(f"'{f}'" for f in params["flags"])
    checks = [
        ("properties/l_quantity/minimum", f"l_quantity < {params['qty_min']!r}"),
        ("properties/l_quantity/maximum", f"l_quantity > {params['qty_max']!r}"),
        ("properties/l_discount/minimum", f"l_discount < CAST({params['disc_min']!r} AS DOUBLE)"),
        ("properties/l_discount/maximum", f"l_discount > CAST({params['disc_max']!r} AS DOUBLE)"),
        ("properties/l_returnflag/enum", f"NOT coalesce(l_returnflag IN ({flags}), FALSE)"),
        ("properties/l_linestatus/pattern",
         f"NOT regexp_matches(l_linestatus, '{params['pattern']}')"),
        ("properties/l_linenumber/minimum", "l_linenumber < 1"),
        ("properties/l_linenumber/maximum", f"l_linenumber > {params['line_max']!r}"),
    ]
    select = ",\n".join(f"count(*) FILTER (WHERE {cond})" for _, cond in checks)
    con = _duckdb()
    try:
        counts = con.execute(f"SELECT {select} FROM read_parquet(?)", [lineitem_glob]).fetchone()
    finally:
        con.close()
    return {path: int(c) for (path, _), c in zip(checks, counts) if c}


def images_sink_counts(violations_glob: str, manifest_glob: str):
    """(keyword path → violation rows, part → (n_rows, n_fail)) as written
    by one images_table call: its violation sink and its manifest."""
    con = _duckdb()
    try:
        kw = con.execute(
            "SELECT array_to_string(keyword_path, '/'), count(*) "
            "FROM read_parquet(?, hive_partitioning = false) GROUP BY 1",
            [violations_glob],
        ).fetchall()
        parts = con.execute(
            "SELECT part, n_rows, n_fail FROM read_parquet(?)", [manifest_glob]
        ).fetchall()
    finally:
        con.close()
    return {k: int(n) for k, n in kw}, [(int(p), int(n), int(f)) for p, n, f in parts]
