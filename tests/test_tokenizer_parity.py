"""The one tokenizer and sentence splitter equal the oracles' spelling.

``text.tokens``, ``text.words`` and ``text.sentences`` are the engine side
of a contract with the DuckDB oracles, which spell them as
``string_split_regex(lower(trim(text, ' ')), '[ \\t\\n\\x0B\\f\\r]+')`` (with
``list_filter(..., x -> x <> '')`` for words) and tx14's sentence split.
Edge strings go through both engines and must split identically. Turkish
dotted I is left out: the engines lowercase it differently, a known gap
that the adversarial sweeps also exclude."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from market_data_pipeline_spark.operators import text

CASES = [
    "\tleading tab then words",
    "vt\x0bff\x0ccr\rlf\nend",
    "nbsp\u00a0inside and\u00a0 around it",
    "     ",
    "",
    None,
    "\u00c0\u00c9\u00ce \u00d5\u00dc \u00c7\u00d1 \u00c6r\u00f8 \u00c5SA \u03a9mega",
    "Wait... what?! ok.",
    "  Two  spaces. And\ttabs!  ",
    "trailing newline\n",
]

ORACLE = r"""
SELECT id,
       string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+') AS tokens,
       list_filter(string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+'),
                   x -> x <> '') AS words,
       list_filter(list_transform(string_split_regex(trim(text, ' '), '[.!?]+'),
                                  x -> trim(x)), x -> x <> '') AS sentences
FROM docs ORDER BY id"""


def test_tokenizer_matches_oracle_spelling(spark):
    rows = list(enumerate(CASES))
    df = spark.createDataFrame(rows, "id int, text string")
    got = [
        (r["id"], r["tokens"], r["words"], r["sentences"])
        for r in df.select(
            "id",
            text.tokens(F.col("text")).alias("tokens"),
            text.words(F.col("text")).alias("words"),
            text.sentences(F.col("text")).alias("sentences"),
        )
        .orderBy("id")
        .collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE docs (id INTEGER, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    want = [tuple(r) for r in con.execute(ORACLE).fetchall()]
    assert got == want
    # the cases reach the edges they name
    by_text = {t: g for t, g in zip(CASES, got)}
    assert by_text["\tleading tab then words"][1:3] == (
        ["", "leading", "tab", "then", "words"],
        ["leading", "tab", "then", "words"],
    )
    assert by_text[""][1:] == ([""], [], [])
    assert by_text[None][1:] == (None, None, None)
    assert by_text["Wait... what?! ok."][3] == ["Wait", "what", "ok"]
