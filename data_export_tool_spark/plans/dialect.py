"""MySQL → Spark SQL dialect shim (SURVEY.md §4/§7.4).

A source-level text transform that lets the reference's MySQL-dialect
query files run through ``spark.sql`` unchanged in spirit. Handles the
dialect gaps catalogued in SURVEY.md §4:

- ``#`` end-of-line comments (MySQL-only) → stripped;
- 1-arg ``ISNULL(x)`` (returns 0/1) → ``(CASE WHEN x IS NULL THEN 1
  ELSE 0 END)`` — Spark's ``isnull`` returns boolean;
- ``PERIOD_DIFF(DATE_FORMAT(b,'%Y%m'), DATE_FORMAT(a,'%Y%m'))`` →
  calendar-month arithmetic (Spark has no PERIOD_DIFF);
- ``DATE_ADD/DATE_SUB(d, INTERVAL e unit)`` with arbitrary expression
  ``e`` → ``date_add``/``add_months`` calls;
- ``DATE_FORMAT(d, '%...')`` → ``date_format`` with a translated
  pattern;
- parameter substitution (REPORT_START_DATE/REPORT_END_DATE) with
  quoted date literals — string replacement exactly like the
  reference (/root/reference/export.py:283-284).

Everything else the reference uses (TIMESTAMPDIFF, IF, IFNULL, LEFT,
CONCAT_WS, backtick identifiers, CASE) is native Spark SQL.
"""

from __future__ import annotations

import re

#: MySQL strftime → JVM DateTimeFormatter fragments (only patterns the
#: corpus uses, F14: '%Y%m')
_FMT_MAP = {
    "%Y": "yyyy",
    "%m": "MM",
    "%d": "dd",
    "%H": "HH",
    "%i": "mm",
    "%s": "ss",
}


def _strip_hash_comments(sql: str) -> str:
    """Remove ``# ...`` to end-of-line outside string literals."""
    out: list[str] = []
    in_str: str | None = None
    i = 0
    while i < len(sql):
        ch = sql[i]
        if in_str:
            out.append(ch)
            if ch == in_str:
                in_str = None
            i += 1
            continue
        if ch in ("'", '"'):
            in_str = ch
            out.append(ch)
            i += 1
            continue
        if ch == "#":
            while i < len(sql) and sql[i] != "\n":
                i += 1
            continue
        out.append(ch)
        i += 1
    return "".join(out)


def _literal_spans(sql: str) -> list[tuple[int, int]]:
    """[start, end) spans of single/double-quoted string literals."""
    return [
        m.span() for m in re.finditer(r"'(?:[^']|'')*'|\"(?:[^\"])*\"", sql)
    ]


def _find_call(sql: str, func: str, start: int = 0) -> tuple[int, int, list[str]] | None:
    """Locate ``func( ... )`` at or after ``start``; returns
    (call_start, call_end_exclusive, top_level_args) with balanced
    parens and string-literal awareness — including the initial name
    match: a literal like ``'checked IF(x)'`` must never trigger a
    rewrite (or an unbalanced-parens error) from text inside quotes."""
    pat = re.compile(rf"\b{func}\s*\(", re.IGNORECASE)
    spans = _literal_spans(sql)
    while True:
        m = pat.search(sql, start)
        if not m:
            return None
        if any(s <= m.start() < e for s, e in spans):
            start = m.end()
            continue
        break
    i = m.end()
    depth = 1
    args: list[str] = []
    cur: list[str] = []
    in_str: str | None = None
    while i < len(sql) and depth > 0:
        ch = sql[i]
        if in_str:
            cur.append(ch)
            if ch == in_str:
                in_str = None
        elif ch in ("'", '"'):
            in_str = ch
            cur.append(ch)
        elif ch == "(":
            depth += 1
            cur.append(ch)
        elif ch == ")":
            depth -= 1
            if depth > 0:
                cur.append(ch)
        elif ch == "," and depth == 1:
            args.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
        i += 1
    if depth != 0:
        raise ValueError(f"unbalanced parens in {func}(...) near offset {m.start()}")
    args.append("".join(cur).strip())
    return m.start(), i, args


def _rewrite_calls(sql: str, func: str, render) -> str:
    """Rewrite every ``func(...)`` via ``render(args)``.

    The search resumes just past each rewrite site so a rendering that
    begins with a same-named lowercase Spark call (e.g. DATE_FORMAT →
    date_format) can't loop, while occurrences nested inside the
    rewritten args are still picked up.
    """
    offset = 0
    while True:
        found = _find_call(sql, func, offset)
        if found is None:
            return sql
        s, e, args = found
        sql = sql[:s] + render(args) + sql[e:]
        offset = s + 1


def _mysql_fmt_to_java(fmt: str) -> str:
    out = fmt
    for k, v in _FMT_MAP.items():
        out = out.replace(k, v)
    return out


def _render_isnull(args: list[str]) -> str:
    if len(args) != 1:
        raise ValueError(f"MySQL ISNULL takes 1 arg, got {len(args)}")
    return f"(CASE WHEN {args[0]} IS NULL THEN 1 ELSE 0 END)"


def _render_period_diff(args: list[str], int_div: str = "div") -> str:
    """PERIOD_DIFF(p1, p2) where p is DATE_FORMAT(d,'%Y%m') or a yyyymm
    int expression → month-count subtraction. ``int_div`` is the
    target's integer-division operator (Spark ``div``, DuckDB ``//`` —
    DuckDB has no DIV keyword, so a shared literal would make the
    oracle side unparseable)."""

    def months_of(p: str) -> str:
        found = _find_call(p, "DATE_FORMAT")
        # the DATE_FORMAT call must span the WHOLE operand: matching a
        # prefix only would silently drop trailing text like `+ 1`
        if (
            found is not None
            and p[: found[0]].strip() == ""
            and p[found[1] :].strip() == ""
        ):
            # cast: the operand may be a substituted string literal
            d = f"CAST({found[2][0]} AS DATE)"
            return f"(year({d}) * 12 + month({d}))"
        return (
            f"(CAST({p} AS INT) {int_div} 100 * 12 + CAST({p} AS INT) % 100)"
        )

    return f"({months_of(args[0])} - {months_of(args[1])})"


_INTERVAL_RE = re.compile(
    r"^\s*INTERVAL\s+(?P<expr>.+?)\s+(?P<unit>DAY|WEEK|MONTH|YEAR)\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _render_date_addsub(sign: int):
    def render(args: list[str]) -> str:
        if len(args) != 2:
            raise ValueError("DATE_ADD/DATE_SUB expects 2 args")
        d, iv = args
        m = _INTERVAL_RE.match(iv)
        if not m:
            # MySQL also allows DATE_ADD(d, n) meaning days
            expr, unit = iv, "DAY"
        else:
            expr, unit = m.group("expr"), m.group("unit").upper()
        if sign < 0:
            expr = f"-({expr})"
        unit = unit.upper()
        if unit == "DAY":
            return f"date_add({d}, CAST(({expr}) AS INT))"
        if unit == "WEEK":
            return f"date_add({d}, CAST(7 * ({expr}) AS INT))"
        if unit == "MONTH":
            return f"add_months({d}, CAST(({expr}) AS INT))"
        if unit == "YEAR":
            return f"add_months({d}, CAST(12 * ({expr}) AS INT))"
        raise ValueError(f"unsupported interval unit {unit}")

    return render


def _render_date_format(args: list[str]) -> str:
    if len(args) != 2:
        raise ValueError("DATE_FORMAT expects 2 args")
    d, fmt = args
    if fmt.startswith(("'", '"')) and fmt.endswith(("'", '"')):
        fmt = f"'{_mysql_fmt_to_java(fmt[1:-1])}'"
    return f"date_format({d}, {fmt})"


def substitute_params(sql: str, params: dict[str, str]) -> str:
    """String replacement of REPORT_*_DATE placeholders with quoted
    date literals — exactly the reference's mechanism
    (export.py:283-284)."""
    for key, value in params.items():
        sql = sql.replace(key, f"'{value}'")
    return sql


# --------------------------------------------------------------------------
# DuckDB oracle target: lets the reference's MySQL query text run on
# DuckDB as the parity oracle for the engine's DataFrame line-lists.
# --------------------------------------------------------------------------

#: macro prelude the oracle connection must install first. The
#: Ethiopian conversion is the same Julian-day arithmetic as
#: functions.ethiopian (epoch offset 2440588 - 1723856 = 716732);
#: mysql_tsdiff_* pin MySQL's complete-unit TIMESTAMPDIFF semantics.
DUCKDB_MACRO_PRELUDE: tuple[str, ...] = (
    # MySQL (and Spark) sort NULLs as lowest: first on ASC, last on
    # DESC. DuckDB's default (nulls last everywhere) silently flips
    # which row ROW_NUMBER ... ORDER BY col ASC picks when the key is
    # NULL-heavy (e.g. PMTCT_HEI CPT_Start).
    "SET default_null_order='nulls_first_on_asc_last_on_desc'",
    # body generated from functions.ethiopian's single arithmetic
    # template (see _ETH_DMY_DUCKDB below) — never hand-edit a copy
    "CREATE OR REPLACE MACRO fn_gregorian_to_ethiopian_calendar(d, fmt) AS "
    "CASE WHEN d IS NULL THEN NULL ELSE {eth_dmy} END",
    # complete units at TIMESTAMP grain (time-of-day included): MySQL's
    # TIMESTAMPDIFF counts complete 24h periods / complete months whose
    # (day, time) tail has been reached — a DATE cast would call
    # 23:00→01:00 a full day. `//` truncates toward zero like MySQL.
    "CREATE OR REPLACE MACRO mysql_tsdiff_day(a, b) AS "
    "date_diff('microsecond', CAST(a AS TIMESTAMP), CAST(b AS TIMESTAMP))"
    " // 86400000000",
    "CREATE OR REPLACE MACRO mysql_tsdiff_week(a, b) AS "
    "mysql_tsdiff_day(a, b) // 7",
    "CREATE OR REPLACE MACRO mysql_tsdiff_month(a, b) AS "
    "((year(CAST(b AS DATE)) * 12 + month(CAST(b AS DATE))) "
    " - (year(CAST(a AS DATE)) * 12 + month(CAST(a AS DATE)))) "
    "- CASE WHEN (day(CAST(b AS DATE)), CAST(CAST(b AS TIMESTAMP) AS TIME)) "
    "< (day(CAST(a AS DATE)), CAST(CAST(a AS TIMESTAMP) AS TIME)) "
    "THEN 1 ELSE 0 END",
    "CREATE OR REPLACE MACRO mysql_tsdiff_year(a, b) AS "
    "(year(CAST(b AS DATE)) - year(CAST(a AS DATE))) "
    "- CASE WHEN (month(CAST(b AS DATE)), day(CAST(b AS DATE)), "
    "CAST(CAST(b AS TIMESTAMP) AS TIME)) "
    "< (month(CAST(a AS DATE)), day(CAST(a AS DATE)), "
    "CAST(CAST(a AS TIMESTAMP) AS TIME)) THEN 1 ELSE 0 END",
)


def _eth_dmy_duckdb() -> str:
    from data_export_tool_spark.functions.ethiopian import eth_dmy_sql

    return eth_dmy_sql(
        "(CAST(d AS DATE) - DATE '1970-01-01')", int_div="//", str_type="VARCHAR"
    )


def duckdb_macro_statements() -> list[str]:
    """The prelude with the template-generated Ethiopian body
    substituted — the form every consumer must use (embedding the raw
    ``DUCKDB_MACRO_PRELUDE`` would ship the ``{eth_dmy}`` placeholder)."""
    eth = _eth_dmy_duckdb()
    return [stmt.replace("{eth_dmy}", eth) for stmt in DUCKDB_MACRO_PRELUDE]


def install_duckdb_macros(con) -> None:
    for stmt in duckdb_macro_statements():
        con.sql(stmt)


def _render_date_addsub_duckdb(sign: int):
    def render(args: list[str]) -> str:
        if len(args) != 2:
            raise ValueError("DATE_ADD/DATE_SUB expects 2 args")
        d, iv = args
        m = _INTERVAL_RE.match(iv)
        if not m:
            expr, unit = iv, "DAY"
        else:
            expr, unit = m.group("expr"), m.group("unit").upper()
        if sign < 0:
            expr = f"-({expr})"
        fn = {"DAY": "to_days", "WEEK": None, "MONTH": "to_months", "YEAR": "to_years"}[
            unit
        ]
        if unit == "WEEK":
            return f"(CAST({d} AS TIMESTAMP) + to_days(7 * CAST(({expr}) AS INT)))"
        return f"(CAST({d} AS TIMESTAMP) + {fn}(CAST(({expr}) AS INT)))"

    return render


def _render_date_format_duckdb(args: list[str]) -> str:
    if len(args) != 2:
        raise ValueError("DATE_FORMAT expects 2 args")
    # DuckDB strftime natively understands the MySQL %-patterns the
    # corpus uses ('%Y%m')
    return f"strftime(CAST({args[0]} AS TIMESTAMP), {args[1]})"


def _render_if_duckdb(args: list[str]) -> str:
    if len(args) != 3:
        raise ValueError("IF expects 3 args")
    return f"(CASE WHEN {args[0]} THEN {args[1]} ELSE {args[2]} END)"


_TSDIFF_RE = re.compile(
    r"\bTIMESTAMPDIFF\s*\(\s*(DAY|WEEK|MONTH|YEAR)\s*,", re.IGNORECASE
)

#: MySQL truthiness quirks (SURVEY.md §4.1/§4.2): a bare string literal
#: as a searched-CASE condition coerces to 0 → false. Only two shapes
#: appear in the corpus; both rewrites are shaped to never touch
#: simple-form CASE arms.
_CASE_LITERAL_RE = re.compile(r"(\bCASE\s+WHEN\s+)'[^']*'(\s+THEN\b)", re.IGNORECASE)
#: `WHEN 'a' OR 'b' THEN` can sit in a searched CASE (boolean slot) or a
#: simple CASE (operand-comparison slot, Tx_Curr_AHD_LineList.sql:305).
#: NULL types into both slots and never matches — reproducing the
#: "effectively dead branch" reading of SURVEY.md §4.2. (True MySQL
#: would coerce the OR to 0 and in the simple-CASE slot match any
#: non-numeric operand; documented deviation, identical on both
#: engines.)
_WHEN_LITERAL_OR_RE = re.compile(
    r"(\bWHEN\s+)'[^']*'(?:\s+OR\s+'[^']*')+(\s+THEN\b)", re.IGNORECASE
)


def _apply_outside_strings(sql: str, fn) -> str:
    """Apply ``fn`` to the segments of ``sql`` outside single-quoted
    string literals (so rewrites never corrupt literal text like
    'VISITECT <200 copies/ml')."""
    parts = re.split(r"('(?:[^']|'')*')", sql)
    return "".join(p if p.startswith("'") else fn(p) for p in parts)


#: MySQL numerically compares VARCHAR columns against integer literals
#: (`cd4_count < 200`, `viral_load_count BETWEEN 51 AND 1000`). DuckDB
#: refuses; TRY_CAST(x AS DOUBLE) reproduces the lenient comparison
#: (malformed strings → NULL → false, like Spark's non-ANSI cast; true
#: MySQL would parse a leading-numeric prefix — documented deviation).
_NUM_CMP_RE = re.compile(
    r"\b([A-Za-z_][A-Za-z_0-9]*(?:\.[A-Za-z_][A-Za-z_0-9]*)?)"
    r"\s*(>=|<=|<>|!=|<|>|=)\s*(\d+(?:\.\d+)?)(?![\d.])"
)
_NUM_BETWEEN_RE = re.compile(
    r"\b([A-Za-z_][A-Za-z_0-9]*(?:\.[A-Za-z_][A-Za-z_0-9]*)?)"
    r"\s+BETWEEN\s+(\d+(?:\.\d+)?)\s+AND\s+(\d+(?:\.\d+)?)(?![\d.])",
    re.IGNORECASE,
)


def _numeric_compare_casts(segment: str) -> str:
    segment = _NUM_BETWEEN_RE.sub(
        r"TRY_CAST(\1 AS DOUBLE) BETWEEN \2 AND \3", segment
    )
    return _NUM_CMP_RE.sub(r"TRY_CAST(\1 AS DOUBLE) \2 \3", segment)


def _eth_inline_expr(d: str) -> str:
    """Inline Spark SQL for the Ethiopian 'D/M/Y' rendering — text
    generated from functions.ethiopian's ONE arithmetic template, so
    shimmed reference SQL stays fully JVM-side (no UDF) and can never
    drift from the Column-API/oracle forms. NULL dates propagate
    through datediff→concat naturally; Catalyst's common-subexpression
    elimination collapses the repeated offset term."""
    from data_export_tool_spark.functions.ethiopian import eth_dmy_sql

    return eth_dmy_sql(
        f"datediff(CAST({d} AS DATE), DATE '1970-01-01')",
        int_div="div",
        str_type="STRING",
    )


def _render_eth_fn(args: list[str]) -> str:
    if len(args) != 2:
        raise ValueError("fn_gregorian_to_ethiopian_calendar expects 2 args")
    # the corpus only ever passes 'D/M/Y' (19 sites); silently emitting
    # D/M/Y for any OTHER requested format would be a wrong answer, so
    # fail loudly instead
    fmt = args[1].strip().strip("'\"").upper()
    if fmt != "D/M/Y":
        raise ValueError(
            f"fn_gregorian_to_ethiopian_calendar: unsupported format "
            f"{args[1]!r} (the shim renders 'D/M/Y' only)"
        )
    return _eth_inline_expr(args[0])


def _strip_and_patch(sql: str, patches: list[tuple[str, str]] | None) -> str:
    """Drop ``#`` comments, then apply each per-query (regex,
    replacement) patch; shared by both shim targets."""
    out = _strip_hash_comments(sql)
    for pat, repl in patches or []:
        out, n = re.subn(pat, repl, out, flags=re.IGNORECASE | re.DOTALL)
        if n == 0:
            # a patch that no longer matches means the reference SQL
            # drifted — the semantics it pins (tie-breaks, GROUP BY
            # drops, TI joins) would be SILENTLY lost; fail loudly
            raise ValueError(f"query patch matched nothing: {pat!r}")
    return out


def shim_mysql_to_spark(
    sql: str,
    params: dict[str, str] | None = None,
    patches: list[tuple[str, str]] | None = None,
) -> str:
    """Rewrite the reference's MySQL text into Spark SQL.

    Comments → PERIOD_DIFF → DATE_ADD/SUB → DATE_FORMAT → ISNULL →
    CURDATE → params; also inlines the Ethiopian-calendar stored
    function as column arithmetic and applies the MySQL truthiness
    quirk rewrites (Spark refuses string-typed CASE conditions even in
    non-ANSI mode). ``patches`` are per-query (regex, replacement)
    pairs applied first — used for semantics-preserving structural
    rewrites the text shim can't do generically (loose GROUP BY drops,
    correlated-LIMIT-1 decorrelation).

    Run the result with ``spark.sql.ansi.enabled=false`` for MySQL's
    lenient cast behavior (CAST('abc' AS DECIMAL) → NULL).
    """
    out = _strip_and_patch(sql, patches)
    out = _rewrite_calls(out, "fn_gregorian_to_ethiopian_calendar", _render_eth_fn)
    out = _rewrite_calls(out, "PERIOD_DIFF", _render_period_diff)
    out = _rewrite_calls(out, "DATE_ADD", _render_date_addsub(+1))
    out = _rewrite_calls(out, "DATE_SUB", _render_date_addsub(-1))
    out = _rewrite_calls(out, "DATE_FORMAT", _render_date_format)
    out = _rewrite_calls(out, "ISNULL", _render_isnull)
    out = re.sub(r"\bCURDATE\s*\(\s*\)", "current_date()", out, flags=re.IGNORECASE)
    out = _CASE_LITERAL_RE.sub(r"\1FALSE\2", out)
    out = _WHEN_LITERAL_OR_RE.sub(r"\1NULL\2", out)
    if params:
        out = substitute_params(out, params)
    return out


def shim_mysql_to_duckdb(
    sql: str,
    params: dict[str, str] | None = None,
    patches: list[tuple[str, str]] | None = None,
) -> str:
    """Rewrite the reference's MySQL text into DuckDB SQL (run after
    ``install_duckdb_macros`` on the connection). ``patches`` as in
    ``shim_mysql_to_spark`` — both targets get identical structural
    rewrites so the oracle comparison stays apples-to-apples."""
    out = _strip_and_patch(sql, patches)
    out = _TSDIFF_RE.sub(lambda m: f"mysql_tsdiff_{m.group(1).lower()}(", out)
    out = _rewrite_calls(
        out, "PERIOD_DIFF", lambda a: _render_period_diff(a, int_div="//")
    )
    out = _rewrite_calls(out, "DATE_ADD", _render_date_addsub_duckdb(+1))
    out = _rewrite_calls(out, "DATE_SUB", _render_date_addsub_duckdb(-1))
    out = _rewrite_calls(out, "DATE_FORMAT", _render_date_format_duckdb)
    out = _rewrite_calls(out, "ISNULL", _render_isnull)
    out = _rewrite_calls(out, "IF", _render_if_duckdb)
    out = re.sub(r"\bCURDATE\s*\(\s*\)", "current_date", out, flags=re.IGNORECASE)
    # the CASE-quirk rewrites must see the quoted literals themselves;
    # the numeric-compare casts must NOT look inside literals
    out = _CASE_LITERAL_RE.sub(r"\1FALSE\2", out)
    out = _WHEN_LITERAL_OR_RE.sub(r"\1NULL\2", out)
    out = _apply_outside_strings(out, _numeric_compare_casts)
    out = out.replace("`", '"')
    if params:
        out = substitute_params(out, params)
    return out
