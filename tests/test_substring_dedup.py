"""Exact substring dedup (ExactSubstr, Lee et al. 2021): windowed
formulation — planted-span exactness, interval-merge coverage, short-doc
pass-through, whole-doc removal and the DuckDB cross-oracle."""

import duckdb
import pytest
from pyspark.sql import functions as F

from markdown_lab_spark.functions.dedup import (
    dedup_substrings,
    duplicate_window_starts,
    token_windows,
)

L = 5

# a 7-token boilerplate shared by two docs: with L=5 its windows
# (starts 0..2 inside the span) are duplicated, their union covers the
# whole span and nothing else.
BOILER = "alpha beta gamma delta epsilon zeta eta"


def _mk(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_planted_span_removed_exactly(spark):
    rows = [
        (1, f"one two three {BOILER} four five six"),
        (2, f"seven eight {BOILER} nine ten eleven twelve"),
        (3, "thirteen fourteen fifteen sixteen seventeen eighteen nineteen"),
    ]
    out = {
        r["id"]: r
        for r in dedup_substrings(_mk(spark, rows), "doc_id", "text", L).collect()
    }
    assert out[1]["kept_text"] == "one two three four five six"
    assert out[2]["kept_text"] == "seven eight nine ten eleven twelve"
    assert out[3]["kept_text"] == rows[2][1]
    assert out[1]["total_tokens"] == 13 and out[1]["removed_tokens"] == 7
    assert out[3]["removed_tokens"] == 0


def test_boundary_windows_not_duplicated(spark):
    # windows straddling the boilerplate boundary mix doc-unique context,
    # so removal is EXACTLY the boilerplate token positions
    rows = [
        (1, f"u1 u2 {BOILER} u3 u4"),
        (2, f"v1 v2 v3 {BOILER}"),
    ]
    starts = {
        (r["id"], r["s"])
        for r in duplicate_window_starts(_mk(spark, rows), "doc_id", "text", L).collect()
    }
    # doc1 boiler occupies positions 2..8 -> dup window starts 2,3,4
    # doc2 boiler occupies positions 3..9 -> dup window starts 3,4,5
    assert starts == {(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (2, 5)}


def test_short_docs_pass_through(spark):
    rows = [(1, "a b c"), (2, "a b c"), (3, "a b c d")]
    out = dedup_substrings(_mk(spark, rows), "doc_id", "text", L).collect()
    assert all(r["removed_tokens"] == 0 for r in out)
    assert {r["kept_text"] for r in out} == {"a b c", "a b c d"}


def test_whole_doc_duplicate_removes_both_copies(spark):
    # ExactSubstr removes the span from EVERY copy (published behavior)
    t = "p q r s t u v w"
    rows = [(1, t), (2, t), (3, "x y z only here once more words")]
    out = {
        r["id"]: r
        for r in dedup_substrings(_mk(spark, rows), "doc_id", "text", L).collect()
    }
    assert out[1]["kept_text"] == "" and out[2]["kept_text"] == ""
    assert out[1]["removed_tokens"] == 8
    assert out[3]["removed_tokens"] == 0


def test_adjacent_and_overlapping_spans_merge(spark):
    # two distinct duplicated spans placed back-to-back in one doc:
    # merged coverage must be contiguous, middle tokens not double-counted
    b2 = "k1 k2 k3 k4 k5 k6"
    rows = [
        (1, f"{BOILER} {b2} tail1 tail2"),
        (2, f"pre1 {BOILER} mid1 mid2"),
        (3, f"{b2} post1 post2 post3"),
    ]
    out = {
        r["id"]: r
        for r in dedup_substrings(_mk(spark, rows), "doc_id", "text", L).collect()
    }
    assert out[1]["kept_text"] == "tail1 tail2"
    assert out[1]["removed_tokens"] == 13
    assert out[2]["kept_text"] == "pre1 mid1 mid2"
    assert out[3]["kept_text"] == "post1 post2 post3"


def test_long_span_union_of_windows(spark):
    # a duplicated span of length m > L removes all m tokens (window
    # union covers the span): 12-token shared run, L=5
    run = " ".join(f"s{i}" for i in range(12))
    rows = [(1, f"a1 a2 {run}"), (2, f"{run} b1 b2 b3")]
    out = {
        r["id"]: r
        for r in dedup_substrings(_mk(spark, rows), "doc_id", "text", L).collect()
    }
    assert out[1]["kept_text"] == "a1 a2"
    assert out[2]["kept_text"] == "b1 b2 b3"


def test_duckdb_cross_oracle(spark):
    import random

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for did in range(60):
        n = rng.randint(3, 40)
        words = [rng.choice(vocab) for _ in range(n)]
        if did % 3 == 0:
            words += BOILER.split()
        if did % 5 == 1:
            words = BOILER.split()[:6] + words  # partial overlap variant
        rows.append((did, " ".join(words)))
    spark_out = sorted(
        (r["id"], r["total_tokens"], r["removed_tokens"], r["kept_text"])
        for r in dedup_substrings(_mk(spark, rows), "doc_id", "text", L).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE docs AS SELECT * FROM (VALUES " +
                ",".join(f"({d}, '{t}')" for d, t in rows) +
                ") v(doc_id, text)")
    oracle = con.sql(f"""
        WITH tok AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(trim(text), '\\s+'),
                             x -> x <> '') AS toks
          FROM docs
        ),
        win AS (
          SELECT doc_id, CAST(i AS INT) s,
                 md5(array_to_string(toks[i+1 : i+{L}], chr(31))) whash
          FROM tok, UNNEST(range(len(toks) - {L} + 1)) u(i)
          WHERE len(toks) >= {L}
        ),
        dup AS (SELECT whash FROM win GROUP BY whash HAVING count(*) > 1),
        ds AS (SELECT w.doc_id, w.s FROM win w JOIN dup USING (whash)),
        ti AS (
          SELECT doc_id, CAST(i AS INT) i, toks[i+1] tok
          FROM tok, UNNEST(range(len(toks))) u(i)
        ),
        marked AS (
          SELECT t.doc_id, t.i, t.tok,
                 EXISTS (SELECT 1 FROM ds d WHERE d.doc_id = t.doc_id
                         AND d.s <= t.i AND t.i < d.s + {L}) AS rm
          FROM ti t
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) total_tokens,
               CAST(coalesce(sum(CASE WHEN rm THEN 1 END), 0) AS BIGINT)
                 removed_tokens,
               coalesce(string_agg(CASE WHEN NOT rm THEN tok END, ' '
                 ORDER BY i), '') kept_text
        FROM marked GROUP BY doc_id ORDER BY doc_id
    """).fetchall()
    assert spark_out == [tuple(r) for r in oracle]


def test_plan_has_no_window_or_cartesian(spark):
    rows = [(i, f"t{i} {BOILER}") for i in range(8)]
    plan = dedup_substrings(_mk(spark, rows), "doc_id", "text", L)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Window" not in plan  # coverage filter is a JVM higher-order fn


# ---------------------------------------------------------------------------
# rel=canonical dedup (same family: declared duplicates)
# ---------------------------------------------------------------------------


def _page(canon=None, body="x"):
    link = f'<link rel="canonical" href="{canon}">' if canon else ""
    return f"<html><head>{link}</head><body><p>{body}</p></body></html>"


def test_extract_canonical_rules():
    from markdown_lab_spark.oracle.html_parser import extract_canonical

    base = "https://a.example/dir/page?utm=1"
    assert extract_canonical(_page("https://a.example/clean"), base) == (
        "https://a.example/clean"
    )
    assert extract_canonical(_page("/clean"), base) == "https://a.example/clean"
    assert extract_canonical(_page(), base) is None
    # first canonical wins; rel token list is case-insensitive
    two = (
        '<link REL="Canonical" href="/first">'
        '<link rel="canonical" href="/second">'
    )
    assert extract_canonical(two, base) == "https://a.example/first"
    multi = '<link rel="alternate canonical" href="/tok">'
    assert extract_canonical(multi, base) == "https://a.example/tok"
    assert extract_canonical(_page("mailto:x@y"), base) is None
    assert extract_canonical('<link rel="stylesheet" href="/s.css">', base) is None


def test_canonical_dedup_keeps_target_else_min(spark):
    from markdown_lab_spark.functions.dedup import (
        canonical_dedup,
        canonical_targets,
    )

    rows = [
        # group 1: target page present -> keep it, drop both variants
        ("https://a.example/x", _page()),
        ("https://a.example/x?utm=1", _page("https://a.example/x")),
        ("https://a.example/x?print=1", _page("https://a.example/x")),
        # group 2: target ABSENT -> keep min-url declaring member
        ("https://b.example/v2", _page("https://b.example/master")),
        ("https://b.example/v1", _page("https://b.example/master")),
        # undeclared page passes through
        ("https://c.example/solo", _page()),
    ]
    df = spark.createDataFrame(rows, "url string, html string")
    tgt = {
        r["url"]: r["canonical_target"]
        for r in canonical_targets(df, "url", "html").collect()
    }
    assert tgt["https://a.example/x?utm=1"] == "https://a.example/x"
    assert tgt["https://c.example/solo"] == "https://c.example/solo"

    kept = {r["url"] for r in canonical_dedup(df, "url", "html").collect()}
    assert kept == {
        "https://a.example/x",
        "https://b.example/v1",
        "https://c.example/solo",
    }


def test_canonical_dedup_null_html_passes_through(spark):
    from markdown_lab_spark.functions.dedup import canonical_dedup

    df = spark.createDataFrame(
        [("https://a.example/1", None), ("https://a.example/2", "<p>")],
        "url string, html string",
    )
    assert canonical_dedup(df, "url", "html").count() == 2



def test_canonical_dedup_raises_on_duplicated_url(spark):
    """One row per URL is enforced inside the plan: a repeated url raises
    instead of cross-multiplying through the keep join, whether its copies
    declare the same canonical target or different ones."""
    from pyspark.errors import PySparkException

    from markdown_lab_spark.functions.dedup import canonical_dedup

    base = [
        ("https://a.example/x", _page()),
        ("https://a.example/x?utm=1", _page("https://a.example/x")),
        ("https://b.example/solo", _page()),
    ]
    same = base + [("https://a.example/x", _page())]
    other = base + [("https://a.example/x?utm=1", _page("https://c.example/y"))]
    for rows in (same, other):
        df = spark.createDataFrame(rows, "url string, html string")
        with pytest.raises(PySparkException, match="url is not unique"):
            canonical_dedup(df, "url", "html").collect()
    df = spark.createDataFrame(base, "url string, html string")
    assert sorted(r["url"] for r in canonical_dedup(df, "url", "html").collect()) == [
        "https://a.example/x",
        "https://b.example/solo",
    ]
