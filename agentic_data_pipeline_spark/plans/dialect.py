"""SQL execution + DuckDB-dialect shim (reference engine.py:58-63).

The reference substitutes the magic token ``CURRENT_TABLE`` with a parquet
file path *string* inside the SQL text, then hands it to DuckDB. Here the
binding is a temp view, so Catalyst resolves the name like any relation —
parse → analyze → optimize → whole-stage-codegen, no string surgery.

Because the LLM front-end is prompted for DuckDB SQL (agent.py:42) and the
correctness oracle *is* DuckDB, a tiny pre-parse rewrite absorbs the dialect
deltas that matter in practice. Kept deliberately minimal (SURVEY.md §2.2):
declared queries are written in the common subset; this shim only rescues
the LLM path.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from ..catalog import bind_current_table
from ..session import tune

# strftime % codes → java.time patterns (the common subset an LLM emits).
_STRFTIME_MAP = [
    ("%Y", "yyyy"), ("%y", "yy"), ("%m", "MM"), ("%d", "dd"),
    ("%H", "HH"), ("%M", "mm"), ("%S", "ss"), ("%j", "DDD"), ("%%", "%"),
]


def _xlate_strftime(m: re.Match[str]) -> str:
    fmt = m.group(2)
    for duck, java in _STRFTIME_MAP:
        fmt = fmt.replace(duck, java)
    return f"date_format({m.group(1)}, '{fmt}')"


# DuckDB → Spark SQL function/dialect rewrites (word-boundary, case-insensitive).
# Replacement is a string or a re.sub callable.
_FN_REWRITES: list[tuple[re.Pattern[str], object]] = [
    # SELECT * EXCLUDE (c)  →  SELECT * EXCEPT (c)
    (re.compile(r"\bexclude\s*\(", re.I), "EXCEPT ("),
    # epoch(ts) → seconds; DuckDB returns DOUBLE, so cast to match.
    # (Non-nested argument only — LLM-shaped SQL.)
    (re.compile(r"\bepoch\s*\(([^()]*)\)", re.I),
     r"CAST(unix_timestamp(\1) AS DOUBLE)"),
    # regexp_matches(s, p) → regexp_like(s, p)
    (re.compile(r"\bregexp_matches\s*\(", re.I), "regexp_like("),
    # quantile_cont(x, q) → percentile(x, q): both exact interpolated.
    (re.compile(r"\bquantile_cont\s*\(", re.I), "percentile("),
    # string_agg(x, sep) → listagg(x, sep) (order unspecified in both
    # without WITHIN GROUP, which Spark's listagg also accepts).
    (re.compile(r"\bstring_agg\s*\(", re.I), "listagg("),
    # strftime(ts, '%Y-%m-%d') → date_format(ts, 'yyyy-MM-dd')
    # (simple first-arg / literal-format calls only — LLM-shaped SQL).
    (re.compile(r"\bstrftime\s*\(([^,()]+),\s*'([^']*)'\s*\)", re.I),
     _xlate_strftime),
    # json_extract_string(j, p)  →  get_json_object(j, p)
    (re.compile(r"\bjson_extract_string\s*\(", re.I), "get_json_object("),
    # string_split(s, sep)[n]  →  element_at(split(s, sep), n):
    # DuckDB list indexing is 1-based, Spark's [] is 0-based, but Spark's
    # element_at is 1-based — preserving the LLM's index semantics.
    # (Non-nested args only — good enough for LLM-shaped SQL.)
    (re.compile(r"\bstring_split\s*\(([^()]*)\)\s*\[\s*(\d+)\s*\]", re.I),
     r"element_at(split(\1), \2)"),
    # string_split(s, sep)  →  split(s, sep)   (Spark's split takes a regex,
    # identical for the single-char separators the LLM emits)
    (re.compile(r"\bstring_split\s*\(", re.I), "split("),
    # list_* family → array_* / aggregate equivalents that exist in Spark
    (re.compile(r"\blist_contains\s*\(", re.I), "array_contains("),
    (re.compile(r"\blen\s*\(", re.I), "length("),
    # DuckDB's log() is log10; Spark's is ln. Map explicitly.
    (re.compile(r"\blog\s*\(", re.I), "log10("),
    (re.compile(r"\bln\s*\(", re.I), "ln("),
    # DuckDB integer floor-division operator → Spark's div keyword.
    (re.compile(r"//"), " div "),
]

# Dialect deltas that need NO rewrite (documented so future-me doesn't add
# one): GROUP BY ALL is native in Spark ≥3.4; `/` is float division in both
# (ANSI); CURRENT_TABLE resolves via the temp view, not string surgery.

_MD_FENCE = re.compile(r"^```(?:sql)?\s*|\s*```$", re.I | re.M)
_TRAILING_TERMINATORS = re.compile(r"[\s;]+\Z")


def strip_markdown_fences(sql: str) -> str:
    """LLMs wrap SQL in ``` fences; strip them (reference agent.py:46)."""
    return _MD_FENCE.sub("", sql).strip().rstrip(";")


def _find_top_level(sql: str, word: str, start: int = 0) -> int:
    """Index of ``word`` at paren-depth 0 outside string literals, or -1.
    Case-insensitive, word-boundary semantics."""
    depth = 0
    i, n, w = start, len(sql), len(word)
    lower = sql.lower()
    word = word.lower()
    while i < n:
        c = sql[i]
        if c == "'":                      # skip string literal ('' escapes)
            i += 1
            while i < n:
                if sql[i] == "'" and not (i + 1 < n and sql[i + 1] == "'"):
                    break
                i += 2 if sql[i] == "'" else 1
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0 and lower.startswith(word, i):
            before_ok = i == 0 or not (sql[i - 1].isalnum() or sql[i - 1] == "_")
            after = i + w
            after_ok = after >= n or not (sql[after].isalnum() or sql[after] == "_")
            if before_ok and after_ok:
                return i
        i += 1
    return -1


def rewrite_qualify(sql: str) -> str:
    """DuckDB QUALIFY → a Spark-legal wrap (Spark has no QUALIFY clause).

    ``SELECT ... QUALIFY <pred> [ORDER BY/LIMIT ...]`` becomes::

        SELECT * EXCEPT (__qualify) FROM (
            SELECT *, (<pred>) AS __qualify FROM (<head>) __q
        ) WHERE __qualify [ORDER BY/LIMIT ...]

    The predicate's window functions are evaluated over the head query's
    output — the same rows QUALIFY sees. Limitation (documented): the
    predicate may only reference columns the head SELECTs (DuckDB also
    allows unprojected base columns there; LLM-shaped QUALIFY predicates
    rank by projected columns, which is the case this shim rescues).
    """
    idx = _find_top_level(sql, "qualify")
    if idx < 0:
        return sql
    head = sql[:idx].strip()
    rest = sql[idx + len("qualify"):]
    cut = len(rest)
    for kw in ("order", "limit"):
        k = _find_top_level(rest, kw)
        if k >= 0:
            cut = min(cut, k)
    pred, tail = rest[:cut].strip(), rest[cut:].strip()
    out = (f"SELECT * EXCEPT (__qualify) FROM ("
           f"SELECT *, ({pred}) AS __qualify FROM ({head}) __q"
           f") WHERE __qualify")
    return f"{out} {tail}" if tail else out


def rewrite_list_literals(sql: str) -> str:
    """DuckDB ``[a, b, c]`` list literals → Spark ``array(a, b, c)``.

    A ``[`` is a *literal* when the previous non-space char is not an
    identifier char / ``)`` / ``]`` / ``'`` (those mean indexing, which
    stays bracketed for the element_at shim above). Nested literals
    handled; brackets inside string literals left alone.
    """
    out: list[str] = []
    # stack entry: True if the open bracket at this depth was a literal
    stack: list[bool] = []
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c == "'":
            j = i + 1
            while j < n:
                if sql[j] == "'" and not (j + 1 < n and sql[j + 1] == "'"):
                    break
                j += 2 if sql[j] == "'" else 1
            out.append(sql[i:j + 1])
            i = j + 1
            continue
        if c == "[":
            k = len(out) - 1
            while k >= 0 and out[k].isspace():
                k -= 1
            prev = out[k][-1] if k >= 0 else ""
            literal = not (prev.isalnum() or prev in "_)]'")
            stack.append(literal)
            out.append("array(" if literal else "[")
        elif c == "]" and stack:
            out.append(")" if stack.pop() else "]")
        else:
            out.append(c)
        i += 1
    return "".join(out)


def duckdb_to_spark_sql(sql: str) -> str:
    """Best-effort DuckDB→Spark dialect rewrite for LLM-generated SQL."""
    out = strip_markdown_fences(sql)
    out = rewrite_qualify(out)
    for pat, repl in _FN_REWRITES:
        out = pat.sub(repl, out)
    out = rewrite_list_literals(out)
    # Trim what the steps above leave at the ends: strip_markdown_fences
    # drops only one ';' layer ('0 ;' → '0 ') and a rewrite can pad an
    # edge ('//' → ' div '). Without this a second rewrite is not a no-op.
    return _TRAILING_TERMINATORS.sub("", out).lstrip()


def sql_exec(spark: SparkSession, query: str, df: DataFrame | None = None,
             dialect: str = "spark") -> DataFrame:
    """Run SQL with the reference's one-table convention.

    ``df`` (if given) is bound as ``CURRENT_TABLE`` — fixing the reference's
    latent bug where the AI path executed against a never-written
    "temp_staging" parquet (agent.py:47, SURVEY.md §2.1) — and any other
    registered temp view remains addressable (multi-table superset).
    """
    tune(spark)
    if df is not None:
        bind_current_table(spark, df)
    if dialect == "duckdb":
        query = duckdb_to_spark_sql(query)
    return spark.sql(query)
