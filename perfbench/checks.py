"""Output checks for every benchmark op.

``suite``: verdict totals and per-(key, code) violation counts must equal
an independent DuckDB recount over the same parquet.  The recount spells
out the transcript rules itself (Required = NULL or empty string, the
Choice domains, ``Min(0)``) instead of asking the program for them.

``resume``: totals must equal the single-shot ``suite`` result on the
same input (the documented resume contract).
"""

from __future__ import annotations

from collections import Counter

ROLES = ("system", "user", "assistant", "tool")
TOOLS = ("search", "code", "browser")

#: (key, code) -> SQL predicate that makes the row fire that violation
SUITE_VIOLATIONS = {
    ("conv_id", "empty"): "conv_id IS NULL OR conv_id = ''",
    ("turn_idx", "too_small"): "turn_idx < 0",
    ("role", "not_valid_choice"): "role IS NOT NULL AND role NOT IN {roles}",
    ("text", "empty"): "text IS NULL OR text = ''",
    ("tool", "not_valid_choice"): "tool IS NOT NULL AND tool NOT IN {tools}",
}

TOTAL_KEYS = ("n_rows", "n_invalid", "dup_keys", "surplus_rows", "n_convs", "gappy_convs")


def _sql_tuple(values) -> str:
    return "(" + ", ".join(f"'{v}'" for v in values) + ")"


def suite_expected(parquet_dir: str) -> dict:
    """Independent recount with DuckDB: verdict totals and violations."""
    import duckdb

    preds = {
        k: "(" + p.format(roles=_sql_tuple(ROLES), tools=_sql_tuple(TOOLS)) + ")"
        for k, p in SUITE_VIOLATIONS.items()
    }
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW t AS SELECT * FROM read_parquet('{parquet_dir}/*.parquet')"
        )
        counts = ", ".join(
            f"count(*) FILTER (WHERE {p})" for p in preds.values()
        )
        any_bad = " OR ".join(f"coalesce({p}, false)" for p in preds.values())
        row = con.execute(
            f"SELECT count(*), count(*) FILTER (WHERE {any_bad}), {counts} FROM t"
        ).fetchone()
        keyed = con.execute(
            """
            WITH k AS (
                SELECT conv_id, turn_idx, count(*) AS c FROM t GROUP BY 1, 2
            ), cv AS (
                SELECT conv_id,
                       count(*) AS distinct_turns,
                       min(turn_idx) AS mn,
                       max(turn_idx) AS mx,
                       count(*) FILTER (WHERE c > 1) AS dup,
                       sum(c - 1) AS surplus
                FROM k GROUP BY 1
            )
            SELECT sum(dup), sum(surplus), count(*),
                   count(*) FILTER (WHERE NOT (mn = 0 AND mx = distinct_turns - 1))
            FROM cv
            """
        ).fetchone()
    finally:
        con.close()
    totals = {
        "n_rows": row[0],
        "n_invalid": row[1],
        "dup_keys": keyed[0],
        "surplus_rows": keyed[1],
        "n_convs": keyed[2],
        "gappy_convs": keyed[3],
    }
    violations = {k: n for k, n in zip(preds, row[2:]) if n}
    return {"totals": {k: int(v) for k, v in totals.items()}, "violations": violations}


def suite_observed(verdict_rows, violation_pairs) -> dict:
    """Observed totals from per-bucket verdict rows (dicts or Rows) and
    per-(key, code) counts from an iterable of ``(key, code)`` pairs."""
    totals = {k: 0 for k in TOTAL_KEYS}
    for r in verdict_rows:
        for k in TOTAL_KEYS:
            totals[k] += int(r[k] or 0)
    return {"totals": totals, "violations": dict(Counter(violation_pairs))}


def written_observed(out_dir: str) -> dict:
    """Observed totals and per-(key, code) counts from the ``verdicts/``
    and ``violations/`` parquet that ``run_resumable`` wrote (partitioned
    by bucket), read back with DuckDB."""
    import duckdb

    con = duckdb.connect()
    try:
        sums = ", ".join(f"sum({k})" for k in TOTAL_KEYS)
        row = con.execute(
            f"SELECT {sums} FROM read_parquet('{out_dir}/verdicts/*/*.parquet')"
        ).fetchone()
        pairs = con.execute(
            f"SELECT key, code, count(*) FROM read_parquet('{out_dir}/violations/*/*.parquet') GROUP BY 1, 2"
        ).fetchall()
    finally:
        con.close()
    return {
        "totals": {k: int(v or 0) for k, v in zip(TOTAL_KEYS, row)},
        "violations": {(k, c): n for k, c, n in pairs},
    }


def mismatches(expected: dict, observed: dict, path: str = "") -> list[str]:
    """Every leaf where ``observed`` differs from ``expected`` (missing
    keys count as zero for counters)."""
    out = []
    for k in sorted(set(expected) | set(observed), key=repr):
        e, o = expected.get(k, 0), observed.get(k, 0)
        where = f"{path}{k}"
        if isinstance(e, dict) or isinstance(o, dict):
            out += mismatches(e or {}, o or {}, where + ".")
        elif e != o:
            out.append(f"{where}: expected {e!r}, got {o!r}")
    return out
