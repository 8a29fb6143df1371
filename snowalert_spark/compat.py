"""Snowflake-SQL → Spark-SQL compatibility layer (SURVEY §4, §7.2-2).

The reference's entire workload is Snowflake SQL text (rule views in
``packs/*.sql`` + engine-emitted statements). This module rewrites the
dialect differences so rule bodies run near-verbatim under Catalyst:

- ``QUALIFY <pred>``           → window-in-subquery + WHERE rewrite,
                                 applied at every nesting depth (CTE
                                 bodies, derived tables — the packs use
                                 QUALIFY inside CTEs, e.g.
                                 cis_aws_pack.sql:513).
- ``col:a:b.c['k'][0]::type`` → CAST(get_json_object(col,'$…') AS t);
                                 multi-colon Snowflake paths
                                 (cis_aws_pack.sql raw:requestParameters
                                 :name) and bracket access on bare
                                 columns (aws_query_pack.sql:127
                                 request_parameters['bucketName']) both
                                 resolve.
- ``LATERAL FLATTEN``          → LATERAL VIEW posexplode(from_json(…)),
                                 comma- and JOIN-joined forms, optional
                                 alias, args with nested parens, placed
                                 at the end of the FROM clause so
                                 ``FROM a, FLATTEN(…), b`` parses
                                 (cis_aws_pack.sql:846);
                                 ``recursive => true`` → LATERAL VIEW
                                 inline(sa_rflatten(…)) over the
                                 pandas-UDF JSON walker
                                 (cis_azure_pack.sql:207).
- function renames             → IFF→if, ZEROIFNULL→coalesce, DATEADD/
                                 DATEDIFF→timestampadd/timestampdiff
                                 (boundary-count semantics),
                                 REGEXP_SUBSTR→regexp_extract (incl.
                                 6-arg group_num form), ARRAY_AGG→
                                 collect_list / sort_array(collect_set),
                                 ARRAY_CONTAINS arg-swap over JSON-text
                                 arrays, RLIKE flags → inline (?flags).
- ``OBJECT_CONSTRUCT(…)``      → to_json(named_struct(…)) — the variant
                                 convention is JSON text (functions/
                                 variant.py).
- ``USING col``                → USING (col) (osquery_query_pack.sql:35)
- SELECT-alias reuse in WHERE  → inline expansion (Snowflake extension;
                                 Spark only resolves lateral aliases in
                                 the SELECT list).

String-level rewriting is deliberate: no SQL parser dependency. All
rewrites are local token substitutions except QUALIFY/FLATTEN/alias-in-
WHERE, which operate per paren-nesting scope (literals are masked first
so quotes can't confuse the scanners).
"""

from __future__ import annotations

import functools
import re

_TYPE_MAP = {
    "string": "STRING",
    "varchar": "STRING",
    "number": "DECIMAL(38,0)",
    "integer": "INT",
    "int": "INT",
    "float": "DOUBLE",
    "double": "DOUBLE",
    "boolean": "BOOLEAN",
    "timestamp_ltz": "TIMESTAMP",
    "timestamp_ntz": "TIMESTAMP",
    "timestamp": "TIMESTAMP",
    "date": "DATE",
    "variant": "STRING",
    "array": "ARRAY<STRING>",
}


def _split_top_level(sql: str, keyword: str) -> tuple[str, str] | None:
    """Split at the first top-level (outside parens/quotes) occurrence
    of ``keyword`` (word-bounded, case-insensitive). Returns
    (before, after) without the keyword, or None."""
    depth = 0
    i = 0
    n = len(sql)
    kw = keyword.upper()
    while i < n:
        c = sql[i]
        if c == "'":
            i += 1
            while i < n and sql[i] != "'":
                i += 2 if sql[i] == "\\" else 1
        elif c == '"':
            i += 1
            while i < n and sql[i] != '"':
                i += 1
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0 and sql[i : i + len(kw)].upper() == kw:
            before_ok = i == 0 or not (sql[i - 1].isalnum() or sql[i - 1] == "_")
            j = i + len(kw)
            after_ok = j >= n or not (sql[j].isalnum() or sql[j] == "_")
            if before_ok and after_ok:
                return sql[:i], sql[j:]
        i += 1
    return None


def _count_top_level(sql: str, keyword: str) -> int:
    """Number of top-level (outside parens/quotes) keyword occurrences."""
    n = 0
    rest = sql
    while True:
        sp = _split_top_level(rest, keyword)
        if sp is None:
            return n
        n += 1
        rest = sp[1]


def _find_top_level_any(sql: str, keywords: tuple[str, ...], start: int = 0) -> int:
    """Index of the earliest top-level occurrence of any keyword at or
    after ``start``; len(sql) if none."""
    best = len(sql)
    tail = sql[start:]
    for kw in keywords:
        sp = _split_top_level(tail, kw)
        if sp is not None:
            best = min(best, start + len(sp[0]))
    return best


def _match_paren(s: str, i: int) -> int:
    """Index of the ')' matching the '(' at ``i`` (quote-aware)."""
    depth = 0
    n = len(s)
    while i < n:
        c = s[i]
        if c == "'":
            i += 1
            while i < n and s[i] != "'":
                i += 1
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i
        i += 1
    raise ValueError("unbalanced parens")


def rewrite_qualify(sql: str) -> str:
    """``SELECT <sel> FROM <rest> QUALIFY p [ORDER BY …] [LIMIT …]`` →
    ``SELECT * EXCEPT (__q) FROM (SELECT <sel>, (p) AS __q FROM <rest>)
    WHERE __q …``

    The predicate is injected into the *same* select level so it can
    reference base-table columns that the select list projects away
    (Snowflake QUALIFY scoping)."""
    parts = _split_top_level(sql, "QUALIFY")
    if parts is None:
        return sql
    inner, rest = parts
    # peel trailing UNION branches / ORDER BY / LIMIT off the qualify
    # predicate (UNION first: everything after it — including its own
    # ORDER BY — belongs to the union, not this branch)
    tail = ""
    for kw in ("UNION", "ORDER BY", "LIMIT"):
        sp = _split_top_level(rest, kw)
        if sp is not None:
            rest, after = sp
            tail += f" {kw} {after.strip()}"
    pred = rest.strip()
    inner = inner.strip()
    split_from = _split_top_level(inner, "FROM")
    if split_from is None:
        raise ValueError("QUALIFY without FROM")
    sel, from_rest = split_from
    return (
        f"SELECT * EXCEPT (__q) FROM ({sel.strip()}, ({pred}) AS __q "
        f"FROM {from_rest.strip()}) WHERE __q{tail}"
    )


# --------------------------------------------------------------------------
# LATERAL FLATTEN
# --------------------------------------------------------------------------

_FLAT_START_RE = re.compile(
    r"(?P<lead>,|\b(?:(?:LEFT|RIGHT|FULL|CROSS|INNER)\s+)?(?:OUTER\s+)?JOIN\b)?"
    r"\s*\bLATERAL\s+FLATTEN\s*\(",
    re.I,
)
# words that cannot be a flatten alias (the packs write `FLATTEN(…) f`
# or no alias at all, directly followed by a clause keyword)
_NOT_ALIAS = {
    "where", "group", "order", "qualify", "having", "limit", "union",
    "on", "join", "left", "right", "full", "inner", "cross", "lateral",
    "using", "and", "or", "select", "with", "window",
}
# single-word keys: "GROUP BY" written as "GROUP\nBY" or with doubled
# spaces is legal SQL a two-word substring match silently misses
_CLAUSE_KWS = ("WHERE", "GROUP", "QUALIFY", "HAVING", "ORDER", "LIMIT", "UNION")


def _rewrite_flatten_level(sql: str, counter: list[int]) -> str:
    """Rewrite every top-level LATERAL FLATTEN of this scope into a
    LATERAL VIEW placed at the end of its FROM clause (before the next
    top-level clause keyword), so comma-joined relations that follow the
    flatten (cis_aws_pack.sql:846 ``FROM t, FLATTEN(…), cte``) stay
    valid under Spark's grammar."""
    while True:
        m = None
        for cand in _FLAT_START_RE.finditer(sql):
            # only top-level occurrences: count depth up to match
            depth = sql[: cand.start()].count("(") - sql[: cand.start()].count(")")
            if depth == 0:
                m = cand
                break
        if m is None:
            return sql
        open_i = m.end() - 1
        close_i = _match_paren(sql, open_i)
        args = sql[open_i + 1 : close_i]
        # optional alias after the close paren
        am = re.match(r"\s*(?:AS\s+)?([A-Za-z_]\w*)", sql[close_i + 1 :])
        alias = None
        end_i = close_i + 1
        if am and am.group(1).lower() not in _NOT_ALIAS:
            alias = am.group(1)
            end_i = close_i + 1 + am.end()
        if alias is None:
            counter[0] += 1
            alias = f"_flat{counter[0]}"
        # parse input => expr [, recursive => true] [, outer => true]
        recursive = bool(re.search(r"\brecursive\s*=>\s*true", args, re.I))
        outer = bool(re.search(r"\bouter\s*=>\s*true", args, re.I))
        args = re.sub(r",?\s*\b(?:recursive|outer)\s*=>\s*\w+", "", args, flags=re.I)
        im = re.match(r"\s*input\s*=>\s*(.*)$", args, flags=re.I | re.S)
        expr = (im.group(1) if im else args).strip()
        lead = m.group("lead") or ""
        # LEFT/FULL JOIN LATERAL FLATTEN and outer => true both keep
        # rows with empty/NULL input → the OUTER lateral view form
        outer = outer or bool(re.search(r"\b(LEFT|FULL)\b", lead, re.I))
        ov = "OUTER " if outer else ""
        if recursive:
            # Snowflake recursive flatten: one row per node (path, value)
            # — sa_rflatten (functions/variant.py) walks the JSON doc.
            lview = f" LATERAL VIEW {ov}inline(sa_rflatten({expr})) {alias} "
        else:
            lview = (
                f" LATERAL VIEW {ov}posexplode(from_json({expr}, 'array<string>')) "
                f"{alias} AS index, value "
            )
        start_i = m.start() if lead else m.start()
        sql = sql[:start_i] + " " + sql[end_i:]
        # insertion point: first top-level clause keyword after removal
        ins = _find_top_level_any(sql, _CLAUSE_KWS, start_i)
        sql = sql[:ins] + lview + sql[ins:]


# --------------------------------------------------------------------------
# Variant paths
# --------------------------------------------------------------------------

# Matches Snowflake variant path access on a (possibly qualified)
# column. The path must START with `:seg` or a masked-literal bracket
# (so plain `a.b` qualified refs and `arr[0]` array indexing are left
# alone); subsequent segments may be `:seg`, `.seg`, `['k']`, `[0]`.
_PATH_RE = re.compile(
    r"""
    (?P<col>\b\w+(?:\.\w+)?)
    (?P<path>
        # first segment: `:seg`, a masked string-literal bracket, or a
        # numeric index that is itself followed by another segment
        # (cis_azure_pack.sql:1689 logs[0]:category::STRING) — a bare
        # trailing arr[0] is real array indexing and stays untouched
        (?: :(?!:)\w+ | \[__STRLIT\d+X__\] | \[\d+\](?=[:.\[]) )
        (?: :(?!:)\w+ | \.\w+ | \[__STRLIT\d+X__\] | \[\d+\] )*
    )
    (?: ::(?P<cast>\w+) )?
    """,
    re.VERBOSE,
)

_SEG_RE = re.compile(r":(\w+)|\.(\w+)|\[__STRLIT(\d+)X__\]|\[(\d+)\]")


def _path_to_jsonpath(path: str, lits: list[str]) -> str:
    out = "$"
    for m in _SEG_RE.finditer(path):
        colon_seg, dot_seg, lit_i, idx = m.groups()
        if colon_seg is not None:
            out += f".{colon_seg}"
        elif dot_seg is not None:
            out += f".{dot_seg}"
        elif lit_i is not None:
            out += f".{lits[int(lit_i)][1:-1]}"
        else:
            out += f"[{idx}]"
    return out


def rewrite_variant_paths(sql: str, lits: list[str] | None = None) -> str:
    """``raw:a:b.c['k'][0]::string`` →
    CAST(get_json_object(raw, '$.a.b.c.k[0]') AS STRING).

    Operates on literal-masked text; masks/unmasks itself when called
    standalone (lits=None)."""
    standalone = lits is None
    if standalone:
        sql, lits = _mask_literals(sql)

    def sub(m: re.Match) -> str:
        col, path, cast = m.group("col"), m.group("path"), m.group("cast")
        expr = f"get_json_object({col}, '{_path_to_jsonpath(path, lits)}')"
        if cast:
            t = _TYPE_MAP.get(cast.lower(), cast.upper())
            expr = f"CAST({expr} AS {t})"
        return expr

    out = _PATH_RE.sub(sub, sql)
    if standalone:
        out = _unmask_literals(out, lits)
    return out


# --------------------------------------------------------------------------
# Casts
# --------------------------------------------------------------------------

# cast rewrites for ::type on plain expressions, call results and
# bracket-indexed results: x::t, f(x)::t, (e)::t, split(a,b)[8]::t
_CAST_RE = re.compile(r"([\)\]])\s*::(\w+)|(\b[\w.]+\b)::(\w+)")


def rewrite_casts(sql: str) -> str:
    def sub(m: re.Match) -> str:
        if m.group(1):
            t = _TYPE_MAP.get(m.group(2).lower(), m.group(2).upper())
            return f"{m.group(1)} AS __CAST_{t}__"  # placeholder, fixed below
        t = _TYPE_MAP.get(m.group(4).lower(), m.group(4).upper())
        return f"CAST({m.group(3)} AS {t})"

    out = _CAST_RE.sub(sub, sql)
    # fix `<closer> AS __CAST_T__` placeholders: walk back over the
    # postfix chain (paren/bracket groups + identifier) to find the
    # start of the casted expression
    # types may contain non-word chars (DECIMAL(38,0), ARRAY<STRING>) —
    # match lazily up to the closing marker
    pat = re.compile(r"([\)\]]) AS __CAST_(.+?)__")
    while True:
        pm = pat.search(out)
        if pm is None:
            return out
        i = pm.start(1)
        t = pm.group(2)
        k = i
        while True:
            if out[k] == ")":
                depth = 0
                while k >= 0:
                    if out[k] == ")":
                        depth += 1
                    elif out[k] == "(":
                        depth -= 1
                        if depth == 0:
                            break
                    k -= 1
            elif out[k] == "]":
                depth = 0
                while k >= 0:
                    if out[k] == "]":
                        depth += 1
                    elif out[k] == "[":
                        depth -= 1
                        if depth == 0:
                            break
                    k -= 1
            else:
                break
            # include a preceding identifier/function name
            while k > 0 and (out[k - 1].isalnum() or out[k - 1] in "_."):
                k -= 1
            if k > 0 and out[k - 1] in ")]":
                k -= 1
                continue
            break
        out = out[:k] + f"CAST({out[k:i + 1]} AS {t})" + out[pm.end():]


_SIMPLE_FN = [
    (re.compile(r"\bIFF\s*\(", re.I), "if("),
    (re.compile(r"\bUUID_STRING\s*\(\s*\)", re.I), "uuid()"),
    (re.compile(r"\bSEQ4\s*\(\s*\)", re.I), "monotonically_increasing_id()"),
    # empty ARRAY_CONSTRUCT() → empty JSON array text (variant-as-string
    # convention; cis_azure_pack.sql:1450 IFNULL(v:categories, ARRAY_CONSTRUCT()))
    (re.compile(r"\bARRAY_CONSTRUCT\s*\(\s*\)", re.I), "__EMPTY_JSON_ARR__"),
    (re.compile(r"\bARRAY_CONSTRUCT\s*\(", re.I), "array("),
    (re.compile(r"\bARRAY_SIZE\s*\(", re.I), "size("),
    (re.compile(r"\bARRAY_AGG\s*\(\s*DISTINCT\b", re.I), "__array_agg_distinct__("),
    (re.compile(r"\bARRAY_AGG\s*\(", re.I), "collect_list("),
    (re.compile(r"\bARRAY_CONTAINS\s*\(", re.I), "__array_contains__("),
    (re.compile(r"\bOBJECT_CONSTRUCT\s*\(\s*\*\s*\)", re.I), "to_json(struct(*))"),
    (re.compile(r"\bTO_VARCHAR\s*\(", re.I), "string("),
    (re.compile(r"\bCURRENT_ACCOUNT\s*\(\s*\)", re.I), "'spark_account'"),
    (re.compile(r"\bCURRENT_TIMESTAMP\s*\(\s*\)", re.I), "current_timestamp()"),
    (re.compile(r"\bREGEXP_SUBSTR\s*\(", re.I), "__regexp_substr__("),
    (re.compile(r"\bDATEADD\s*\(", re.I), "timestampadd("),
    # DATEDIFF counts date-part *boundary crossings* in Snowflake
    # (DATEDIFF(DAY,'01-01 23:59','01-02 00:01') = 1), while Spark's
    # timestampdiff counts complete elapsed units (= 0). Deferred to a
    # dedicated arg rewrite in transpile() that truncates both sides.
    (re.compile(r"\bDATEDIFF\s*\(", re.I), "__datediff__("),
    (re.compile(r"\bBOOLOR_AGG\s*\(", re.I), "bool_or("),
    (re.compile(r"\bANY_VALUE\s*\(", re.I), "any_value("),
    (re.compile(r"\bTRY_TO_TIMESTAMP(?:_LTZ|_NTZ)?\s*\(", re.I), "try_to_timestamp("),
    # CONVERT_TIMEZONE(tz, ts): engine time is UTC → wall-clock in tz
    (re.compile(r"\bCONVERT_TIMEZONE\s*\(", re.I), "__convert_tz__("),
    # TO_NUMBER(x): Snowflake default precision/scale is (38,0); Spark's
    # to_number requires a format string (cis_azure_pack.sql:1774
    # TO_NUMBER(SPLIT(range,'-')[0]))
    (re.compile(r"\bTO_NUMBER\s*\(", re.I), "__to_number__("),
]


def rewrite_functions(sql: str) -> str:
    out = sql
    # PARSE_JSON(x):path ≡ x:path under the JSON-text variant model
    # (cis_aws_pack.sql:1021 FLATTEN(input => PARSE_JSON(policy):Statement))
    out = re.sub(r"\bPARSE_JSON\s*\(\s*([\w.]+)\s*\)\s*(?=:[^:])", r"\1", out, flags=re.I)
    out = re.sub(r"\bPARSE_JSON\s*\(", "(", out, flags=re.I)  # JSON stays a string
    # ZEROIFNULL(x) → coalesce(x, 0): plain rename then arg fix
    out = re.sub(r"\bZEROIFNULL\s*\(", "__zeroifnull__(", out, flags=re.I)
    out = _fix_one_arg(out, "__zeroifnull__", lambda a: f"coalesce({a}, 0)")
    for pat, rep in _SIMPLE_FN:
        out = pat.sub(rep, out)
    out = _fix_one_arg(out, "__array_agg_distinct__", lambda a: f"sort_array(collect_set({a}))")
    # OBJECT_CONSTRUCT(k1, v1, …) → compact JSON document string
    out = re.sub(r"\bOBJECT_CONSTRUCT\s*\(", "__object_construct__(", out, flags=re.I)
    out = _fix_one_arg(out, "__object_construct__", lambda a: f"to_json(named_struct({a}))")
    # DATEADD('minute', n, t) → timestampadd(minute, n, t): unquote unit
    out = re.sub(
        r"\b(timestampadd|timestampdiff)\(\s*'(\w+)'",
        lambda m: f"{m.group(1)}({m.group(2)}",
        out,
        flags=re.I,
    )
    return out


def _regexp_substr_args(args: str) -> str:
    """REGEXP_SUBSTR(s, p[, pos[, occ[, flags[, group_num]]]]) →
    regexp_extract: i/s flags fold into the literal pattern as (?is);
    flag 'e' means "return first capture group"
    (snowflake_query_pack.sql:5: 'ie'); an explicit 6th arg selects the
    group (cis_azure_pack.sql:1258). Runs post-unmask so the pattern
    literal is visible."""
    parts = [p.strip() for p in _split_select_items(args)]
    s, p = parts[0], parts[1]
    group = 0
    if len(parts) >= 5:
        flags = parts[4].strip("'").lower()
        inline = "".join(f for f in flags if f in "ism")
        if inline and p.startswith("'"):
            p = f"'(?{inline})" + p[1:]
        if "e" in flags:
            group = 1
    if len(parts) >= 6:
        group = int(parts[5])
    if len(parts) >= 3 and parts[2] != "1":
        raise ValueError("REGEXP_SUBSTR position != 1 unsupported")
    return f"regexp_extract({s}, {p}, {group})"


def _array_contains_args(args: str) -> str:
    """ARRAY_CONTAINS(value, array) — Snowflake arg order, over the
    JSON-text array convention → array_contains(from_json(arr), value)
    (cis_azure_pack.sql:1459)."""
    parts = [p.strip() for p in _split_select_items(args)]
    if len(parts) != 2:
        raise ValueError(f"ARRAY_CONTAINS expects 2 args: {args!r}")
    val, arr = parts
    return f"array_contains(from_json({arr}, 'array<string>'), {val})"


def _datediff_args(args: str) -> str:
    """DATEDIFF(unit, a, b) → boundary-count semantics: truncate both
    operands to the unit before diffing, so crossing a unit boundary
    counts 1 regardless of elapsed time (Snowflake semantics; the
    reference packs gate their windows on this, e.g.
    snowflake_security_monitoring.sql 'DATEDIFF(HOUR, ts, NOW) < 24')."""
    parts = [p.strip() for p in _split_select_items(args)]
    if len(parts) != 3:
        raise ValueError(f"DATEDIFF expects 3 args, got {len(parts)}: {args!r}")
    unit = parts[0].strip("'\"").lower()
    a, b = parts[1], parts[2]
    return (
        f"timestampdiff({unit}, date_trunc('{unit}', {a}),"
        f" date_trunc('{unit}', {b}))"
    )


def _convert_tz_args(args: str) -> str:
    """CONVERT_TIMEZONE(tz, ts) → wall-clock in tz (engine time is
    UTC); CONVERT_TIMEZONE(src, tgt, ts) → reinterpret wall-clock ts
    from src and render in tgt."""
    parts = [p.strip() for p in _split_select_items(args)]
    if len(parts) == 2:
        tz, ts = parts
        return f"from_utc_timestamp({ts}, {tz})"
    if len(parts) == 3:
        src, tgt, ts = parts
        return f"from_utc_timestamp(to_utc_timestamp({ts}, {src}), {tgt})"
    raise ValueError(f"CONVERT_TIMEZONE expects 2 or 3 args: {args!r}")


def _fix_one_arg(sql: str, marker: str, build) -> str:
    """Replace ``marker(<args>)`` with ``build(<args>)`` where <args>
    spans to the matching close paren."""
    while marker in sql:
        i = sql.index(marker)
        j = i + len(marker)
        assert sql[j] == "("
        k = _match_paren(sql, j)
        args = sql[j + 1 : k]
        sql = sql[:i] + build(args) + sql[k + 1 :]
    return sql


def _split_select_items(sel: str) -> list[str]:
    """Split an expression list on top-level (paren- and quote-aware)
    commas."""
    items, depth, cur = [], 0, []
    i, n = 0, len(sel)
    while i < n:
        ch = sel[i]
        if ch == "'":
            cur.append(ch)
            i += 1
            while i < n:
                cur.append(sel[i])
                if sel[i] == "'":
                    break
                i += 1
        elif ch == "(":
            depth += 1
            cur.append(ch)
        elif ch == ")":
            depth -= 1
            cur.append(ch)
        elif ch == "," and depth == 0:
            items.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
        i += 1
    if cur:
        items.append("".join(cur))
    return items


_ALIAS_RE = re.compile(r"\s+AS\s+(\w+)\s*$", re.I)

# words that cannot end the expression part of an implicitly-aliased
# select item (`expr alias` with no AS — Snowflake style, used heavily
# by the packs: `id disk_id`, `MAX(recorded_at) recorded_last`)
_EXPR_TAIL_KW = {
    "and", "or", "not", "in", "like", "ilike", "rlike", "between", "is",
    "then", "else", "when", "distinct", "all", "as", "case", "by",
    "from", "select", "where", "join", "on", "using", "union", "over",
    "partition", "order", "group", "interval",
}


def _split_alias(item: str) -> tuple[str, str] | None:
    """Split a select item into (expr, alias) for both ``expr AS a``
    and the implicit ``expr a`` form; None when the item is unaliased."""
    item = item.rstrip()
    m = _ALIAS_RE.search(item)
    if m:
        return item[: m.start()].strip(), m.group(1)
    m = re.match(r"^(.*\S)\s+([A-Za-z_]\w*)$", item, re.S)
    if not m:
        return None
    expr, alias = m.group(1), m.group(2)
    tail = expr.rstrip()
    if tail[-1] in "(,+-*/=<>|:.":
        return None  # `a || b` and friends: b is an operand, not an alias
    last_word = re.search(r"(\w+)$", tail)
    if last_word and last_word.group(1).lower() in _EXPR_TAIL_KW:
        return None
    if alias.lower() in _EXPR_TAIL_KW:
        return None
    return expr.strip(), alias


def rewrite_alias_in_where(sql: str) -> str:
    """Snowflake allows WHERE to reference a SELECT alias
    (packs/snowflake_query_pack.sql:5,22); ANSI/Spark does not. Expand
    alias references in the top-level WHERE predicate to their select
    expressions inline — exactly Snowflake's observable semantics.

    Limitation (documented): an alias that shadows a same-named source
    column resolves to the source column in Snowflake but to the alias
    expression here; the packs don't do that."""
    masked, lits = _mask_literals(sql)
    parts = _split_top_level(masked, "WHERE")
    if parts is None:
        return sql
    head, pred_tail = parts
    sp = _split_top_level(head, "SELECT")
    if sp is None or sp[0].strip():
        return sql
    from_split = _split_top_level(sp[1], "FROM")
    if from_split is None:
        return sql
    sel_text = from_split[0]
    m_dist = re.match(r"\s*(?:ALL\s+|DISTINCT\s+)?(.*)$", sel_text, re.S | re.I)
    exprs: dict[str, str] = {}
    for item in _split_select_items(m_dist.group(1) if m_dist else sel_text):
        split = _split_alias(item)
        if split is not None:
            exprs[split[1].lower()] = split[0]
    if not exprs:
        return sql
    # split the predicate off trailing clauses
    pred = pred_tail
    tail = ""
    for kw in ("GROUP BY", "ORDER BY", "LIMIT"):
        spl = _split_top_level(pred, kw)
        if spl is not None:
            pred, after = spl
            tail += f" {kw} {after.strip()}"

    hit = False

    def sub(m: re.Match) -> str:
        nonlocal hit
        e = exprs.get(m.group(0).lower())
        if e is None:
            return m.group(0)
        hit = True
        return f"({e})"

    names = "|".join(re.escape(a) for a in exprs)
    new_pred = re.sub(rf"(?<![.\w])(?:{names})\b", sub, pred, flags=re.I)
    if not hit:
        return sql
    out = f"{head}WHERE {new_pred.strip()}{tail}"
    return _unmask_literals(out, lits)


_BARE_IDENT_RE = re.compile(r"^[A-Za-z_]\w*$")


def rewrite_bool_conjuncts(sql: str) -> str:
    """Snowflake coerces a VARIANT/string value to boolean in predicate
    context (cis_azure_pack.sql:2172 ``WHERE … AND enabled`` over
    ``attributes:enabled``); Spark's ANSI analyzer rejects a STRING
    filter. Wrap bare-identifier WHERE conjuncts in an explicit
    boolean cast — a no-op for columns that already are boolean."""
    parts = _split_top_level(sql, "WHERE")
    if parts is None:
        return sql
    head, pred = parts
    tail = ""
    for kw in ("GROUP BY", "QUALIFY", "HAVING", "ORDER BY", "LIMIT", "UNION"):
        sp = _split_top_level(pred, kw)
        if sp is not None:
            pred, after = sp
            tail += f" {kw} {after.strip()}"
    # split on top-level AND, except the AND that closes a pending
    # [NOT] BETWEEN lo AND hi — that one belongs to the expression
    pieces = []
    rest = pred
    while True:
        sp = _split_top_level(rest, "AND")
        if sp is None:
            pieces.append(rest)
            break
        pieces.append(sp[0])
        rest = sp[1]
    conjs = []
    cur, pending = None, 0
    for p in pieces:
        if cur is None:
            cur = p
        else:
            cur = cur.rstrip() + " AND " + p.lstrip()
            pending -= 1  # this AND closed a BETWEEN
        pending += _count_top_level(p, "BETWEEN")
        if pending <= 0:
            conjs.append(cur)
            cur, pending = None, 0
    if cur is not None:
        conjs.append(cur)
    changed = False
    out_conjs = []
    for c in conjs:
        ident = c.strip()
        if (
            _BARE_IDENT_RE.match(ident)
            and not ident.upper().startswith("__STRLIT")
            and ident.upper() not in ("TRUE", "FALSE", "NULL")
        ):
            out_conjs.append(c.replace(ident, f"CAST({ident} AS BOOLEAN)"))
            changed = True
        else:
            out_conjs.append(c)
    if not changed:
        return sql
    return f"{head}WHERE{'AND'.join(out_conjs)}{tail}"


_LIT_RE = re.compile(r"'(?:[^'\\]|\\.)*'")


def _mask_literals(sql: str) -> tuple[str, list[str]]:
    """Replace string literals with placeholders so token-level
    rewrites can't fire inside them (e.g. ``12:00`` in a timestamp
    literal looking like a variant path)."""
    lits: list[str] = []

    def sub(m: re.Match) -> str:
        lits.append(m.group(0))
        return f"__STRLIT{len(lits) - 1}X__"

    return _LIT_RE.sub(sub, sql), lits


def _unmask_literals(sql: str, lits: list[str]) -> str:
    for i, lit in enumerate(lits):
        sql = sql.replace(f"__STRLIT{i}X__", lit)
    return sql


def _transform_scopes(sql: str, counter: list[int]) -> str:
    """Recursively transform every paren-nesting scope (innermost
    first): FLATTEN placement, alias-in-WHERE expansion, QUALIFY
    rewrite. Operates on literal-masked text."""
    out = []
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c == "(":
            j = _match_paren(sql, i)
            out.append("(" + _transform_scopes(sql[i + 1 : j], counter) + ")")
            i = j + 1
        else:
            out.append(c)
            i += 1
    level = "".join(out)
    level = _rewrite_flatten_level(level, counter)
    level = rewrite_alias_in_where(level)
    level = rewrite_bool_conjuncts(level)
    while _split_top_level(level, "QUALIFY") is not None:
        level = rewrite_qualify(level)
    return level


def rewrite_using_bare(sql: str) -> str:
    """``JOIN t USING col`` → ``USING (col)`` (Snowflake permits the
    unparenthesized form — osquery_query_pack.sql:35)."""
    return re.sub(r"\bUSING\s+(?!\()(\w+)", r"USING (\1)", sql, flags=re.I)


def _escape_regex_braces(lit: str) -> str:
    """Snowflake's regex engine treats a bare ``{`` literally; Java's
    throws PatternSyntaxException unless it opens a valid quantifier
    (cis_aws_pack.sql:1032 RLIKE '…"Condition":\\s*{\\s*…'). Escape
    non-quantifier braces inside the pattern literal."""
    body = lit[1:-1]
    body = re.sub(r"(?<!\\)\{(?!\d+(,\d*)?\})", r"\\\\{", body)
    return f"'{body}'"


def transpile(sql: str) -> str:
    """Full Snowflake→Spark rewrite pipeline for a rule body.
    Memoized on the body text: the pipeline is a pure function, and
    runner ticks re-transpile the same registered rule bodies every
    cycle (r9 verdict item 5 — transpile cost is per statement, not
    per byte, so cache it once per body)."""
    return _transpile_uncached(sql)


@functools.lru_cache(maxsize=1024)
def _transpile_uncached(sql: str) -> str:
    out, lits = _mask_literals(sql)
    # strip comments up front (literal-safe — literals are masked):
    # several rewrites (QUALIFY wrap, bare-bool conjuncts) scan across
    # lines and must not be derailed by an interleaved -- or /* */
    # comment. The pack loader pre-strips too; this covers ad-hoc rule
    # bodies (WebUI create, user SQL) with commentary inside.
    out = re.sub(r"--[^\n]*", "", out)
    # block comments become a single space, not the empty string — an
    # inline /*hint*/ between two tokens ('a/*c*/b') must not fuse
    # them into one ('ab')
    out = re.sub(r"/\*.*?\*/", " ", out, flags=re.S)
    # patch RLIKE pattern literals for Java-regex brace semantics
    for m in re.finditer(r"\bRLIKE\s*__STRLIT(\d+)X__", out, re.I):
        i = int(m.group(1))
        lits[i] = _escape_regex_braces(lits[i])
    out = rewrite_using_bare(out)
    # PARSE_JSON(x):path ≡ x:path under the JSON-text variant model —
    # unwrap BEFORE flatten/variant-path rewriting so
    # FLATTEN(input => PARSE_JSON(policy):Statement)
    # (cis_aws_pack.sql:1021) resolves through both
    out = re.sub(r"\bPARSE_JSON\s*\(\s*([\w.]+)\s*\)\s*(?=:[^:])", r"\1", out, flags=re.I)
    out = _transform_scopes(out, [0])
    out = rewrite_variant_paths(out, lits)
    out = rewrite_casts(out)
    out = rewrite_functions(out)
    out = _unmask_literals(out, lits)
    out = out.replace("__EMPTY_JSON_ARR__", "'[]'")
    out = _fix_one_arg(out, "__regexp_substr__", _regexp_substr_args)
    out = _fix_one_arg(out, "__to_number__", lambda a: f"CAST({a} AS DECIMAL(38,0))")
    out = _fix_one_arg(out, "__convert_tz__", _convert_tz_args)
    out = _fix_one_arg(out, "__datediff__", _datediff_args)
    out = _fix_one_arg(out, "__array_contains__", _array_contains_args)
    # DATEADD('minute', n, t) → timestampadd(minute, n, t): unquote unit
    out = re.sub(
        r"\b(timestampadd|timestampdiff)\(\s*'(\w+)'",
        lambda m: f"{m.group(1)}({m.group(2)}",
        out,
        flags=re.I,
    )
    return out
