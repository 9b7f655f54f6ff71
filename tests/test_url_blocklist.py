"""url_blocklist_filter: UT1-style domain blocklist semantics — exact host,
parent-domain suffix, case/port normalization, malformed-URL tolerance."""

from __future__ import annotations

from chinese_corpus_cleaning_spark.operators.textanalysis import (
    url_blocklist_filter,
)


def test_blocklist_suffix_and_tolerance(spark):
    d = spark.createDataFrame(
        [
            (1, "https://ads.example.com/x"),
            (2, "https://tracker.ads.example.com/y"),  # parent-suffix hit
            (3, "https://host2.example.com/p"),  # clean
            (4, "HTTPS://ADS.EXAMPLE.COM:443/upper"),  # case + port
            (5, "https://badsite.org/z"),
            (6, None),
            (7, "not a url"),  # try_parse_url -> NULL host
            (8, "https://example.com.evil.net/q"),  # suffix is evil.net side
            (9, "https://ads.example.com./x"),  # trailing-dot FQDN host
        ],
        "doc_id long, url string",
    )
    out = {
        r["doc_id"]: r
        for r in url_blocklist_filter(
            d, ["ads.example.com", "badsite.org"]
        ).collect()
    }
    assert len(out) == 9  # nothing dropped, flags attached
    blocked = {k for k, r in out.items() if r["is_blocked"]}
    assert blocked == {1, 2, 4, 5, 9}
    # the host side is normalized like the entries: the valid trailing-dot
    # form must not evade the list (ADVICE r6)
    assert out[9]["host"] == "ads.example.com"
    assert out[2]["blocked_domain"] == "ads.example.com"
    assert out[4]["host"] == "ads.example.com"  # lowered, port stripped
    assert out[7]["host"] is None and not out[7]["is_blocked"]
    # 'example.com' inside the HOST PREFIX must not match (suffixes only)
    assert not out[8]["is_blocked"]


def test_blocklist_min_domain_deterministic(spark):
    # both example.com and a.example.com match -> min() picks a.example.com
    d = spark.createDataFrame(
        [(1, "https://x.a.example.com/p")], "doc_id long, url string"
    )
    r = url_blocklist_filter(d, ["example.com", "a.example.com"]).first()
    assert r["blocked_domain"] == "a.example.com"


def test_blocklist_entries_normalized(spark):
    """Mixed-case / FQDN-dotted / padded entries must still block (real
    UT1-style lists carry all three)."""
    d = spark.createDataFrame(
        [(1, "https://ads.example.com/x"), (2, "https://ok.example.net/y")],
        "doc_id long, url string",
    )
    out = {
        r["doc_id"]: r
        for r in url_blocklist_filter(
            d, ["Ads.Example.com.", "  BADSITE.ORG  "]
        ).collect()
    }
    assert out[1]["is_blocked"] and out[1]["blocked_domain"] == "ads.example.com"
    assert not out[2]["is_blocked"]


def test_list_blocklist_plans_as_local_relation(spark):
    """The list-built domain table comes from an Arrow table: a
    LocalRelation with exact statistics, not a row-pickled, statistics-less
    LogicalRDD (the pandas/tuple createDataFrame path while
    spark.sql.execution.arrow.pyspark.enabled is off)."""
    d = spark.sql(
        "select * from values (1L, 'https://ads.example.com/x'),"
        " (2L, 'https://ok.example.net/y') as t(doc_id, url)"
    )
    out = url_blocklist_filter(d, ["ads.example.com", "Bad.Org."])
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" not in plan
    assert "LocalRelation [domain" in plan
    assert {r["doc_id"] for r in out.collect() if r["is_blocked"]} == {1}
