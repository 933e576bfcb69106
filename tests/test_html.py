"""HTML → text extraction (functions/html.py): rule-level checks and
the raw-WARC ingest adapter's pipeline equivalence."""

from pyspark.sql import functions as F

from ai_bangladesh_address_parser_spark.functions.html import (
    html_text_expr,
    with_text_from_html,
)


def _extract(spark, html: str) -> str:
    df = spark.createDataFrame([(html.encode(),)], "html binary")
    return df.select(html_text_expr("html").alias("t")).first().t


def test_html_strip_rules(spark):
    # script/style/head dropped wholesale, even with tag-like content
    # inside the script string; entities decoded; <br>/<\p> become
    # newlines; attributes don't confuse the tag strip
    html = (
        '<html><head><title>skip</title></head><body class="x">'
        '<script>var a = "</p>" + (1 < 2);</script>'
        "<style>p { margin: 0 }</style>"
        "<p>Tom &amp; Jerry &lt;3&nbsp;cats</p>"
        "<div>line two</div><br>tail &#39;q&#39;"
        "<!-- multi\nline comment --></body></html>"
    )
    assert _extract(spark, html) == "Tom & Jerry <3 cats\nline two\ntail 'q'"


def test_html_double_encoded_entity(spark):
    # &amp;lt; must decode to the literal text "&lt;", not "<" —
    # pinned by decoding &amp; last
    assert _extract(spark, "<p>&amp;lt;</p>") == "&lt;"


def test_html_whitespace_collapse_and_lines(spark):
    html = "<p>a   b\t c</p><p>  d  </p><br><br><p>e</p>"
    assert _extract(spark, html) == "a b c\nd\ne"


def test_with_text_from_html_pipeline_equivalence(spark):
    """Linking pages whose text was nulled out (html-only, the raw-WARC
    shape) through the ingest adapter produces the same entities as the
    original text-populated run — the per-url invariant extended to the
    html path. synth_pages wraps text as <html><body>text</body></html>
    so the strip chain must round-trip it byte-identically."""
    from ai_bangladesh_address_parser_spark.plans.pipeline import LinkagePlan
    from ai_bangladesh_address_parser_spark.sources.pages import synth_pages

    pages, _ = synth_pages(spark, n_pages=120, n_entities=30)
    base = {(r.url, r.entity_id)
            for r in LinkagePlan(spark).run(pages).select("url", "entity_id").collect()}

    html_only = pages.withColumn("text", F.lit(None).cast("string"))
    adapted = with_text_from_html(html_only)
    # round-trip check on the text itself
    orig = {r.url: r.text for r in pages.collect()}
    got = {r.url: r.text for r in adapted.collect()}
    assert got == orig
    via_html = {(r.url, r.entity_id)
                for r in LinkagePlan(spark).run(adapted).select("url", "entity_id").collect()}
    assert via_html == base

    # mixed corpus: populated text rows keep their bytes untouched
    mixed = pages.withColumn(
        "text", F.when(F.col("url").contains("0"), F.col("text")))
    adapted_mixed = with_text_from_html(mixed)
    assert {r.url: r.text for r in adapted_mixed.collect()} == orig
