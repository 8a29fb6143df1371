"""Transpiler robustness properties (hypothesis): the string-level
rewrites must never corrupt literal content, must be stable on
already-Spark SQL, and the pack loader must parse synthetic pack text
per its documented contract."""

from __future__ import annotations

import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from snowalert_spark import compat, packs

# literal content that historically trips string-level rewriters:
# variant-path-ish colons, regex braces, comment markers, keywords
# NB a literal ending in a backslash ('\') is unterminated in
# Snowflake (backslash escapes inside string literals), so the
# generator never produces one — the masker mirrors that semantics.
TRICKY_LITERALS = st.lists(
    st.sampled_from(
        list("abc:{}[]().*\\- ") + ["QUALIFY", "AND", "--", "::", "=>"]
    ),
    min_size=0,
    max_size=12,
).map(lambda parts: "".join(parts).rstrip("\\"))


@given(lits=st.lists(TRICKY_LITERALS, min_size=1, max_size=4))
@settings(max_examples=200, deadline=None)
def test_literal_bytes_survive_transpile(lits):
    """Everything between quotes must come out byte-identical — no
    rewrite may fire inside a string literal (RLIKE patterns are the
    one documented exception and take a dedicated position)."""
    sql = "SELECT " + ", ".join(
        f"'{lit}' AS c{i}" for i, lit in enumerate(lits)
    ) + " FROM t"
    out = compat.transpile(sql)
    assert re.findall(r"'((?:[^'])*)'", out) == lits


@given(lits=st.lists(TRICKY_LITERALS, min_size=1, max_size=3))
@settings(max_examples=100, deadline=None)
def test_mask_unmask_roundtrip(lits):
    sql = " WHERE x = " + " AND y = ".join(f"'{lit}'" for lit in lits)
    masked, found = compat._mask_literals(sql)
    assert "'" not in masked
    assert compat._unmask_literals(masked, found) == sql


def test_transpile_stable_on_spark_sql():
    """Already-Spark SQL (no Snowflake constructs) passes through with
    at most whitespace-neutral changes."""
    q = (
        "SELECT a, count(*) AS n FROM t WHERE a > 1 AND b LIKE '%x%' "
        "GROUP BY a HAVING count(*) > 2 ORDER BY n DESC LIMIT 5"
    )
    assert compat.transpile(q) == q


@pytest.mark.parametrize("item,expected", [
    ("id disk_id", ("id", "disk_id")),
    ("MAX(recorded_at) recorded_last", ("MAX(recorded_at)", "recorded_last")),
    ("t1.account_id AS id", ("t1.account_id", "id")),
    ("properties:enc::STRING key_source", ("properties:enc::STRING", "key_source")),
    ("a || b", None),               # operand, not an alias
    ("user_name", None),            # single token: unaliased
    ("results.account_id", None),   # qualified ref: unaliased
    ("x + y", None),
    ("CASE WHEN a THEN 1 ELSE 2 END foo", ("CASE WHEN a THEN 1 ELSE 2 END", "foo")),
    ("DISTINCT x", None),           # keyword tail
])
def test_split_alias_table(item, expected):
    assert compat._split_alias(item) == expected


def test_bool_conjunct_wrap_only_bare_identifiers():
    out = compat.rewrite_bool_conjuncts(
        "SELECT * FROM t WHERE 1=1 AND enabled AND expires IS NULL"
    )
    assert "CAST(enabled AS BOOLEAN)" in out
    assert "expires IS NULL" in out and "CAST(expires" not in out
    # no bare conjuncts → unchanged
    q = "SELECT * FROM t WHERE a = 1 AND b LIKE 'x'"
    assert compat.rewrite_bool_conjuncts(q) == q


def test_pack_parser_contract(tmp_path):
    """Synthetic pack text: GRANTs skipped, comments captured with
    quote unescaping, monitoring queries named from lead comments,
    trailing smoke selects dropped."""
    p = tmp_path / "synthetic_pack.sql"
    p.write_text(
        "CREATE OR REPLACE VIEW rules.demo_ALERT_QUERY COPY GRANTS\n"
        "  COMMENT='It''s a demo\n  @id d1\n  @tags a, b'\n"
        "AS\nSELECT 1 AS one\n;\n"
        "GRANT SELECT ON view rules.demo_ALERT_QUERY TO ROLE snowalert;\n"
        "-- Named Monitoring Query\n"
        "SELECT count(*) FROM data.things\n;\n"
        "SELECT * FROM data.things;\n"
    )
    sts = packs.load_pack(str(p))
    assert [s.kind for s in sts] == ["view", "query"]
    view, query = sts
    assert view.name == "DEMO_ALERT_QUERY"
    assert view.comment.startswith("It's a demo")
    assert query.name == "named_monitoring_query"
    assert "data_things" in query.body  # schema flattening applied


def test_pack_statements_are_frozen(tmp_path):
    """``load_pack`` shares cached entries between callers, so an entry
    must not be mutable: one caller's edit would reach every later
    load of the same file."""
    import dataclasses

    p = tmp_path / "frozen_pack.sql"
    p.write_text("-- Only Query\nSELECT 1 AS one\n;\n")
    st = packs.load_pack(str(p))[0]
    with pytest.raises(dataclasses.FrozenInstanceError):
        st.body = "SELECT 2"
    assert packs.load_pack(str(p))[0].body == st.body


def test_pack_fixup_drift_detection(tmp_path):
    """A FIXUP whose target text vanished must fail loudly, not rot."""
    p = tmp_path / "osquery_query_pack.sql"
    p.write_text(
        "CREATE OR REPLACE VIEW rules.missing_server_osquery_logs_violation_query\n"
        "  COMMENT='x'\nAS\nSELECT 1 AS one\n;\n"
    )
    with pytest.raises(AssertionError, match="fixup target drifted"):
        packs.load_pack(str(p))


# ---------------------------------------------------------------------------
# Pack-corpus mutation suite: every reference pack statement must
# round-trip the transpiler under whitespace, comment, and literal
# mutation (round-5 verdict item 9). "Dispatch literals" — those whose
# content the transpiler legitimately dispatches on (dateparts,
# timezone names, to_char formats) — are discovered per statement by
# single-literal probing and exempted; every other literal must pass
# through byte-identically and independently.
# ---------------------------------------------------------------------------
import os

_MARK = "ZQ9"

packs_available = pytest.mark.skipif(
    not os.path.isdir(packs.PACKS_DIR), reason="reference packs dir unavailable"
)


def _canon(sql):
    """(skeleton, literals): comments stripped, whitespace collapsed,
    literals positional — the comparison key for 'same transpile'."""
    masked, lits = compat._mask_literals(sql)
    masked = re.sub(r"--[^\n]*", "", masked)
    masked = re.sub(r"\s+", " ", masked).strip()
    return masked, tuple(lits)


def _statements(fname):
    return [(s.name, s.body) for s in packs.load_pack(f"{packs.PACKS_DIR}/{fname}")]


@packs_available
@pytest.mark.parametrize("fname", packs.PACK_FILES)
def test_pack_whitespace_mutation(fname):
    """Doubling every inter-token space (outside literals) must not
    change what any rewrite produces."""
    for name, body in _statements(fname):
        base = _canon(compat.transpile(body))
        masked, lits = compat._mask_literals(body)
        mutant = compat._unmask_literals(masked.replace(" ", "  "), lits)
        assert _canon(compat.transpile(mutant)) == base, name


@packs_available
@pytest.mark.parametrize("fname", packs.PACK_FILES)
def test_pack_comment_mutation(fname):
    """Interleaved -- comments (leading, mid-statement, trailing) must
    not derail any rewrite — QUALIFY wrapping and bare-bool conjunct
    casts historically broke on a comment between clauses."""
    for name, body in _statements(fname):
        base = _canon(compat.transpile(body))
        masked, lits = compat._mask_literals(body)
        cm = ("-- mutant one\n"
              + masked.replace("\n", "\n-- mutant two\n", 1)
              + "\n-- mutant three")
        mutant = compat._unmask_literals(cm, lits)
        assert _canon(compat.transpile(mutant)) == base, name


@packs_available
@pytest.mark.parametrize("fname", packs.PACK_FILES)
def test_pack_block_comment_mutation(fname):
    """Replacing every inter-token space with an inline /*c*/ block
    comment must not change any transpile: the stripper substitutes a
    space, so adjacent tokens ('a/*c*/b') never fuse ('ab') — the
    round-6 advice finding."""
    for name, body in _statements(fname):
        base = _canon(compat.transpile(body))
        masked, lits = compat._mask_literals(body)
        mutant = compat._unmask_literals(masked.replace(" ", "/*c*/"), lits)
        assert _canon(compat.transpile(mutant)) == base, name


def test_block_comment_strip_does_not_fuse_tokens():
    out = compat.transpile("SELECT a/*hint*/FROM t")
    assert re.search(r"\ba\s+FROM\b", out), out
    assert "aFROM" not in out


@packs_available
@pytest.mark.parametrize("fname", packs.PACK_FILES)
def test_pack_literal_mutation(fname):
    """Appending a marker to every non-dispatch literal must leave the
    skeleton identical and change output literals only by that marker
    — no rewrite may fire inside, or dispatch on, plain data literals."""
    def marked(lit):  # literals carry their quotes: mark INSIDE them
        return lit[:-1] + _MARK + lit[-1]

    for name, body in _statements(fname):
        masked, lits = compat._mask_literals(body)
        base_skel, base_lits = _canon(compat.transpile(body))

        # discover exempt literals: mutating one alone either changes
        # the skeleton (datepart/timezone/format tokens the rewrites
        # map) or vanishes entirely (consumed flags, e.g. REGEXP 'ie')
        exempt = set()
        for i in range(len(lits)):
            probe = list(lits)
            probe[i] = marked(lits[i])
            try:
                skel, outl = _canon(
                    compat.transpile(compat._unmask_literals(masked, probe)))
            except Exception:
                exempt.add(i)
                continue
            if skel != base_skel or outl == base_lits:
                exempt.add(i)

        mut_lits = [
            lit if i in exempt else marked(lit) for i, lit in enumerate(lits)
        ]
        mutant = compat._unmask_literals(masked, mut_lits)
        skel, out_lits = _canon(compat.transpile(mutant))
        assert skel == base_skel, name
        assert len(out_lits) == len(base_lits), name
        changed = 0
        for b, m in zip(base_lits, out_lits):
            if m == b:
                continue
            assert m == marked(b) or m == compat._escape_regex_braces(
                marked(b)
            ), (name, b, m)
            changed += 1
        if len(exempt) < len(lits):
            assert changed > 0, name
