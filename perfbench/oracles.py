"""Independent oracles computed with DuckDB from the generated base table.

Both use the program's own SQL mirror of the doc synthesis
(`DocTable.sqlWith`), which the JVM leg hands over in its reference, and
restate the schema's rules as SQL.
"""
import os

import duckdb


def _con(base_parquet):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    src = os.path.join(base_parquet, "*.parquet") if os.path.isdir(base_parquet) else base_parquet
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{src}')")
    return con


# Per doc, the violations `DocTable.docSchemaJson` must report: a doc_id not
# matching ^doc-[0-9]+$, no spans (minItems), each span of kind 'imag'
# (enum) and each negative offset (minimum).
_VERDICTS = """
{sql_with},
per_span AS (
  SELECT doc_num, SUM(CASE WHEN kind = 'imag' THEN 1 ELSE 0 END) AS bad_enum,
         SUM(CASE WHEN "offset" < 0 THEN 1 ELSE 0 END) AS bad_min
  FROM gspans GROUP BY doc_num),
v AS (
  SELECT CASE WHEN regexp_full_match(d.doc_id_str, '^doc-[0-9]+$') THEN 0 ELSE 1 END AS bad_pattern,
         CASE WHEN d.n_spans < 1 THEN 1 ELSE 0 END AS bad_items,
         COALESCE(s.bad_enum, 0) AS bad_enum, COALESCE(s.bad_min, 0) AS bad_min
  FROM gdocs d LEFT JOIN per_span s USING (doc_num))
SELECT COUNT(*), SUM(bad_pattern), SUM(bad_items), SUM(bad_enum), SUM(bad_min),
       SUM(CASE WHEN bad_pattern + bad_items + bad_enum + bad_min > 0 THEN 1 ELSE 0 END)
FROM v
"""


def verdicts(base_parquet, sql_with):
    """Doc count, pass/fail counts and violations per keyword."""
    con = _con(base_parquet)
    docs, pattern, items, enum, minimum, fail = (
        int(x or 0) for x in con.execute(_VERDICTS.format(sql_with=sql_with)).fetchone())
    kw = {k: v for k, v in (("pattern", pattern), ("minItems", items),
                            ("enum", enum), ("minimum", minimum)) if v}
    return {"docs": docs, "pass": docs - fail, "fail": fail,
            "violations": sum(kw.values()), "kw": kw}


def quality(base_parquet, sql_with):
    """What the quality run's lineage and checks must report."""
    v = verdicts(base_parquet, sql_with)
    con = _con(base_parquet)
    q = lambda sql: con.execute(f"{sql_with} {sql}").fetchone()
    dup_keys, dup_rows = q("SELECT COUNT(*), SUM(c) FROM (SELECT doc_id_str, COUNT(*) c "
                           "FROM gdocs GROUP BY 1 HAVING COUNT(*) > 1)")
    dang_refs, dang_rows = q(
        "SELECT COUNT(*), SUM(c) FROM (SELECT media_ref, COUNT(*) c FROM gspans "
        "WHERE media_ref IS NOT NULL AND media_ref NOT IN "
        "(SELECT 'm-' || CAST(i AS VARCHAR) FROM range(200) t(i)) GROUP BY 1)")
    total, lo, hi, distinct = q(
        "SELECT COUNT(*), MIN(n_spans), MAX(n_spans), COUNT(DISTINCT n_spans) FROM gdocs")
    return {
        "lineage": {"rows": v["docs"], "pass_count": v["pass"], "fail_count": v["fail"],
                    "violations": v["violations"]},
        "dup_keys": int(dup_keys), "dup_rows": int(dup_rows or 0),
        "dangling_refs": int(dang_refs), "dangling_rows": int(dang_rows or 0),
        "profile": {"total": int(total), "nulls": 0, "min": float(lo), "max": float(hi),
                    "distinct": int(distinct)},
        "resumed_identical": True,
    }
