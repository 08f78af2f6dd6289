"""RSS/Atom feed parsing (sources/feeds.py)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from embulk_spark.sources.feeds import parse_feed_column

RSS = (
    '<rss version="2.0"><channel><title>t</title>'
    "<item><guid>g1</guid><title>A &amp; B</title>"
    "<link>https://x.com/1</link>"
    "<pubDate>Mon, 02 Mar 2026 10:20:30 GMT</pubDate></item>"
    "<item><guid>g2</guid><title>no link or date</title></item>"
    "</channel></rss>"
)
ATOM = (
    '<feed xmlns="http://www.w3.org/2005/Atom"><title>f</title>'
    "<entry><id>a1</id><title>Hello &lt;i&gt;</title>"
    '<link href="https://x.com/2"/>'
    "<updated>2026-03-02T10:20:31Z</updated></entry>"
    "</feed>"
)


def test_rss_and_atom_normalize(spark):
    df = spark.createDataFrame([(RSS,), (ATOM,)], "doc string")
    got = {r.guid: r for r in parse_feed_column(df, F.col("doc")).collect()}
    assert set(got) == {"g1", "g2", "a1"}
    r1 = got["g1"]
    assert r1.kind == "rss"
    assert r1.title == "A & B"  # entity unescape
    assert r1.link == "https://x.com/1"
    assert r1.pub_ts == dt.datetime(2026, 3, 2, 10, 20, 30)
    r2 = got["g2"]
    assert r2.link is None and r2.pub_ts is None  # absent → null
    a1 = got["a1"]
    assert a1.kind == "atom"
    assert a1.title == "Hello <i>"
    assert a1.link == "https://x.com/2"  # href attribute form
    assert a1.pub_ts == dt.datetime(2026, 3, 2, 10, 20, 31)


def test_zone_offsets_normalize_to_utc(spark):
    """Numeric RSS offsets, an RFC 822 zone name and an Atom offset all
    land as UTC instants."""
    rss = (
        "<rss><channel>"
        "<item><guid>ist</guid>"
        "<pubDate>Mon, 02 Mar 2026 10:20:30 +0530</pubDate></item>"
        "<item><guid>pst</guid>"
        "<pubDate>Mon, 02 Mar 2026 10:20:30 -0800</pubDate></item>"
        "<item><guid>est</guid>"
        "<pubDate>Mon, 2 Mar 2026 10:20:30 EST</pubDate></item>"
        "</channel></rss>"
    )
    atom = (
        "<feed><entry><id>cest</id>"
        "<updated>2026-03-02T10:20:31+02:00</updated></entry></feed>"
    )
    df = spark.createDataFrame([(rss,), (atom,)], "doc string")
    got = {
        r.guid: r.pub_ts
        for r in parse_feed_column(df, F.col("doc")).collect()
    }
    assert got == {
        "ist": dt.datetime(2026, 3, 2, 4, 50, 30),
        "pst": dt.datetime(2026, 3, 2, 18, 20, 30),
        "est": dt.datetime(2026, 3, 2, 15, 20, 30),
        "cest": dt.datetime(2026, 3, 2, 8, 20, 31),
    }


def test_atom_text_link_fallback(spark):
    doc = (
        "<feed><entry><id>a2</id><title>t</title>"
        "<link>https://plain.link/</link>"
        "<updated>2026-01-01T00:00:00Z</updated></entry></feed>"
    )
    df = spark.createDataFrame([(doc,)], "doc string")
    row = parse_feed_column(df, F.col("doc")).collect()[0]
    assert row.link == "https://plain.link/"


def test_multi_item_order_independent(spark):
    items = "".join(
        f"<item><guid>g{i}</guid><title>t{i}</title></item>"
        for i in range(20)
    )
    df = spark.createDataFrame(
        [(f"<rss><channel>{items}</channel></rss>",)], "doc string"
    )
    got = parse_feed_column(df, F.col("doc")).collect()
    assert {r.guid for r in got} == {f"g{i}" for i in range(20)}


def test_feed_refresh_candidates(spark):
    import datetime as dt

    from embulk_spark.sources.feeds import feed_refresh_candidates

    t0 = dt.datetime(2026, 3, 1, 12, 0, 0)
    entries = spark.createDataFrame(
        [
            ("rss", "g1", "t", "https://x.com/fresh", t0),
            ("rss", "g2", "t", "https://x.com/stale", t0),
            ("atom", "g3", "t", "https://x.com/new", t0),
            # two claims for one link: the freshest wins
            ("rss", "g4", "t", "https://x.com/stale", t0 - dt.timedelta(hours=2)),
            # unparseable date → ignored
            ("rss", "g5", "t", "https://x.com/nodate", None),
        ],
        "kind string, guid string, title string, link string, pub_ts timestamp",
    )
    published = spark.createDataFrame(
        [
            ("https://x.com/fresh", t0),  # lake at feed freshness → drop
            ("https://x.com/stale", t0 - dt.timedelta(hours=1)),
        ],
        "url string, warc_ts timestamp",
    )
    got = {r.url: r for r in feed_refresh_candidates(entries, published).collect()}
    assert set(got) == {"https://x.com/stale", "https://x.com/new"}
    assert got["https://x.com/stale"].status == "stale"
    assert got["https://x.com/stale"].feed_ts == t0  # freshest claim won
    assert got["https://x.com/new"].status == "new"


def test_feed_roundtrip_fuzz_unicode_titles(spark):
    """Entity-escaped arbitrary unicode titles survive the render→parse
    round trip (batched into ONE job; surrogates excluded — Spark
    strings are UTF-8)."""
    import random

    from pyspark.sql import functions as F
    from embulk_spark.sources.feeds import parse_feed_column

    rng = random.Random(17)
    pool = (
        "ab&<>\"' \té中\U0001f600Δ​;!&amp;&lt;x"
    )
    titles = [
        "".join(rng.choice(pool) for _ in range(rng.randrange(0, 25)))
        for _ in range(60)
    ]

    def esc(s):
        return (
            s.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;").replace('"', "&quot;")
            .replace("'", "&apos;")
        )

    docs = [
        (
            i,
            "<rss><channel>"
            f"<item><guid>g{i}</guid><title>{esc(t)}</title></item>"
            "</channel></rss>",
        )
        for i, t in enumerate(titles)
    ]
    df = spark.createDataFrame(docs, "i long, doc string")
    got = {
        r.guid: r.title
        for r in parse_feed_column(df, F.col("doc")).collect()
    }
    for i, t in enumerate(titles):
        assert got[f"g{i}"] == t, (i, t)
