"""The text contract is written once per engine.

Normalization, tokens, the word and character window rules and the
md5-prefix integer key are each one Spark Column helper with its DuckDB
SQL twin beside it (``operators/dedup`` and ``sampling.md5_bits``). A
second copy can drift from the oracle on its own — the copies already
had: ``\\s`` matches \\x0B in Java regex but not in RE2 — so the source
scan below fails if a rule reappears outside its owner, and the
property test checks that the two forms of every rule agree on the
whitespace, empty and NULL edge cases.
"""

from __future__ import annotations

import ast
import os
import re

import duckdb
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from duckdb_dbt_finance_warehouse_spark.operators import dedup, sampling

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "duckdb_dbt_finance_warehouse_spark")

# rule -> (pattern over whitespace-collapsed source, the (module,
# top-level statement) pairs allowed to contain it, once per entry)
RULES = {
    "normalization": (
        r"regexp_replace\(\s*(F\.)?lower\(",
        [("dedup.py", "normalize_text"), ("dedup.py", "normalize_sql")],
    ),
    "whitespace class": (
        r"\\{1,4}s\+|\[\\t\\n\\x0B\\f\\r \]\+",
        [("dedup.py", "<module>")],
    ),
    "tokens": (
        r"split\(\s*(F\.)?normalize_text\(|F\.split\(\s*t\s*,|string_split\(\s*t\s*,"
        r"|string_split\(\s*\{?\s*((dedup\.)?normalize_sql\(|_NORM\b)",
        [("dedup.py", "words"), ("dedup.py", "words_sql")],
    ),
    "window starts": (
        # a window count spelled as ceil(size / w) is the same rule
        r"sequence\(\s*(F\.lit\()?1\)?\s*,\s*((F\.)?greatest|CAST\(\s*ceil)\("
        r"|generate_series\(\s*1\s*,\s*(greatest|CAST\(\s*ceil)\(",
        [("dedup.py", "_starts"), ("dedup.py", "_starts_sql")],
    ),
    "word window": (
        r"concat_ws\(\s*['\"] ['\"]\s*,\s*(F\.)?slice\(|list_slice\(|\w\[CAST\(i AS INT\)\s*:"
        r"|slice\(\s*\w+\s*,\s*\(i - 1\) \*|\w\[\(i - 1\) \*",
        [
            ("dedup.py", "word_grams"),
            ("dedup.py", "word_grams_sql"),
            # a chunk's text is the word window at its start
            ("packing.py", "chunk_overlap"),
        ],
    ),
    # a different rule: 0-based frame indexes, capped at max_frames, and
    # a last frame that may start past length - n + 1
    "frame window": (
        r"(sequence|generate_series)\(\s*CAST\(0 AS BIGINT\)\s*,\s*least\(",
        [("multimodal.py", "frame_sample"), ("extensions.py", "x_multimodal_frames")],
    ),
    "character window": (
        r"substr(ing)?\(\s*\{?_?\w+\}?\s*,\s*(i|CAST\(i AS INT\))\s*,",
        [("dedup.py", "char_grams"), ("dedup.py", "char_grams_sql")],
    ),
    "md5-prefix key": (
        r"conv\(\s*(F\.)?substring\(|'0x' \|\| substr\(\s*md5\(|hexdigest\(\)\[:",
        [
            ("sampling.py", "md5_bits"),
            ("sampling.py", "md5_bits_sql"),
            # the Arrow kernels hash in a per-token Python loop
            ("dedup.py", "simhash"),
            ("dedup.py", "_portable_signatures_in_row"),
            # the two 32-bit words of a record hash (test_aggregate_contract)
            ("maintenance.py", "_fingerprint"),
            ("maintenance.py", "_fingerprint"),
        ],
    ),
}


def _occurrences() -> dict[str, list[tuple[str, str]]]:
    found: dict[str, list[tuple[str, str]]] = {rule: [] for rule in RULES}
    for dirpath, _, files in os.walk(PKG):
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            with open(path) as fh:
                text = fh.read()
            lines = text.splitlines()
            for top in ast.parse(text, path).body:
                decorators = getattr(top, "decorator_list", [])
                first = min([top.lineno] + [d.lineno for d in decorators])
                source = " ".join(" ".join(lines[first - 1 : top.end_lineno]).split())
                owner = getattr(top, "name", "<module>")
                for rule, (pattern, _) in RULES.items():
                    found[rule] += [(name, owner)] * len(re.findall(pattern, source))
    return found


def test_each_text_rule_is_written_once():
    found = _occurrences()
    wrong = {
        rule: sorted(found[rule])
        for rule, (_, owners) in RULES.items()
        if sorted(found[rule]) != sorted(owners)
    }
    assert not wrong, "call the dedup / sampling text helper instead: " + repr(wrong)


PROP = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

PIECES = ["a", "B", "é", "xy", " ", "  ", "\t", "\n", "\r\n", "\x0b", "\x0c", "\xa0"]
TEXTS = st.lists(
    st.one_of(st.none(), st.lists(st.sampled_from(PIECES), max_size=12).map("".join)),
    min_size=1,
    max_size=12,
)


def _forms() -> list[tuple[str, object, str]]:
    """(name, Spark Column over column s, DuckDB SQL over column s)."""
    toks, toks_sql = dedup.words("s"), dedup.words_sql("s")
    norm, norm_sql = dedup.normalize_text("s"), dedup.normalize_sql("s")
    return [
        ("normalize", norm, norm_sql),
        ("words", toks, toks_sql),
        ("bigrams", dedup.word_grams(toks, 2), dedup.word_grams_sql(toks_sql, 2)),
        (
            "trigram keys",
            dedup.word_grams(toks, 3, key=sampling.md5_bits),
            dedup.word_grams_sql(toks_sql, 3, key=sampling.md5_bits_sql),
        ),
        ("chunk starts", dedup.word_starts(toks, 3, 2), dedup.word_starts_sql(toks_sql, 3, 2)),
        ("char grams", dedup.char_grams(norm, 3), dedup.char_grams_sql(norm_sql, 3)),
        ("char windows", dedup.char_grams("s", 2, 3), dedup.char_grams_sql("s", 2, 3)),
        ("md5 bits", sampling.md5_bits("s"), sampling.md5_bits_sql("s")),
        (
            "salted md5 bits",
            sampling.md5_bits("s", 9, 8, "s0"),
            sampling.md5_bits_sql("s", 9, 8, "s0"),
        ),
    ]


@given(texts=TEXTS)
@example(texts=["a\x0bb", "\x0b a\t\x0cb\r\n", "", None, "   ", "a\xa0 b"])
@PROP
def test_spark_and_duckdb_forms_agree(spark, texts):
    forms = _forms()
    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "id int, s string")
    got = df.select("id", *[c.alias(n) for n, c, _ in forms]).orderBy("id").collect()
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id INTEGER, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = con.execute(
        f"SELECT id, {', '.join(sql for _, _, sql in forms)} FROM t ORDER BY id"
    ).fetchall()
    con.close()
    for g, w in zip(got, want):
        for (name, _, _), a, b in zip(forms, tuple(g)[1:], w[1:]):
            assert a == b, (name, texts[g["id"]], a, b)


def test_whitespace_class_is_the_same_in_both_engines(spark):
    """\\x0B is whitespace to the normalizer in both engines; \\xa0 is
    not, in either."""
    df = spark.createDataFrame([("\x0b a\t\x0cb\r\n",), ("a\xa0 b",)], "s string")
    assert [r[0] for r in df.select(dedup.normalize_text("s")).collect()] == ["a b", "a\xa0 b"]
    con = duckdb.connect()
    got = con.execute(
        f"SELECT {dedup.normalize_sql('s')} FROM (VALUES ('\x0b a\t\x0cb\r\n'), ('a\xa0 b')) v(s)"
    ).fetchall()
    assert [r[0] for r in got] == ["a b", "a\xa0 b"]
