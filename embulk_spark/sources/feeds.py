"""RSS 2.0 / Atom feed parser — the web-crawl discovery input.

Crawlers tail feeds to find new/updated pages before re-crawling them;
a CDC ingest pipeline treats a feed poll exactly like a change-stream
tail (new entry ⇒ upsert candidate keyed by link). The reference
ecosystem covers this input with HTTP/feed input plugins on the same
flat-record contract as embulk-parser-xml (reference
spi/ParserPlugin.java:16-36); this re-expresses it on the
:mod:`.xml` machinery — no XML library, no Python in the data path.

Both dialects normalize to ONE record shape::

    (kind, guid, title, link, pub_ts)

- RSS item:   <guid>, <title>, <link>text</link>, <pubDate> RFC-822
- Atom entry: <id>,   <title>, <link href="…"/>,  <updated> RFC 3339

Kind is sniffed per document (``<feed`` ⇒ atom, else rss). Timestamps
honour their zone offset and land as UTC instants; a zone-less stamp
parses in the session zone (the engine pins UTC). Missing fields →
null, entities unescape with the shared :func:`.xml.xml_unescape`.

Scale shape: one ``regexp_extract_all`` + ``explode`` per document
(1→k same-stage generator), then per-field ``regexp_extract`` — all
whole-stage codegen; a directory of feed polls parallelizes per file
like every FileInput."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .xml import xml_unescape

_RSS_ITEM = r"(?s)<item(\s[^>]*)?>(.*?)</item>"
_ATOM_ENTRY = r"(?s)<entry(\s[^>]*)?>(.*?)</entry>"


def _child(row: Column, tag: str) -> Column:
    hit = F.regexp_extract_all(
        row, F.lit(rf"(?s)<{tag}(?:\s[^>]*)?>(.*?)</{tag}>"), F.lit(1)
    )
    return xml_unescape(F.try_element_at(hit, F.lit(1)))


def _attr(row: Column, tag: str, attr: str) -> Column:
    hit = F.regexp_extract_all(
        row, F.lit(rf'(?s)<{tag}[^>]*\s{attr}="([^"]*)"'), F.lit(1)
    )
    return xml_unescape(F.try_element_at(hit, F.lit(1)))


# RFC 822 §5.1 zone names → numeric offsets (the single-letter military
# zones other than Z are left unparsed: feeds get their signs wrong)
_RFC822_ZONES = {
    "UT": "+0000", "GMT": "+0000", "Z": "+0000",
    "EST": "-0500", "EDT": "-0400", "CST": "-0600", "CDT": "-0500",
    "MST": "-0700", "MDT": "-0600", "PST": "-0800", "PDT": "-0700",
}


def _rfc822_ts(raw: Column) -> Column:
    """RSS ``pubDate`` → UTC instant: numeric offsets (``+0530``) and the
    RFC 822 zone names; a stamp with no zone reads as UTC (the engine
    session zone). Unparseable → null. The day-of-week prefix is
    stripped first: Spark's parser refuses E-patterns on parse."""
    stamp = F.regexp_replace(raw, F.lit(r"^[A-Za-z]{3},\s*"), F.lit(""))
    offset = F.try_element_at(
        F.create_map(*[F.lit(x) for kv in _RFC822_ZONES.items() for x in kv]),
        F.upper(F.regexp_extract(stamp, r"\s([A-Za-z]+)$", 1)),
    )
    numeric = F.coalesce(
        F.concat(
            F.regexp_replace(stamp, F.lit(r"[A-Za-z]+$"), F.lit("")), offset
        ),
        stamp,
    )
    return F.coalesce(
        F.try_to_timestamp(numeric, F.lit("d MMM yyyy HH:mm:ss Z")),
        F.try_to_timestamp(stamp, F.lit("d MMM yyyy HH:mm:ss")),
    )


def parse_feed_column(df: DataFrame, col: Column) -> DataFrame:
    """Explode every feed document in string Column ``col`` into
    normalized entry records (kind, guid, title, link, pub_ts)."""
    kind = F.when(col.contains("<feed"), F.lit("atom")).otherwise(
        F.lit("rss")
    )
    src = df.select(kind.alias("kind"), col.alias("_doc"))

    rss_rows = (
        src.filter(F.col("kind") == "rss")
        .select(
            "kind",
            F.explode(
                F.regexp_extract_all(
                    F.col("_doc"), F.lit(_RSS_ITEM), F.lit(0)
                )
            ).alias("_row"),
        )
    )
    r = F.col("_row")
    rss = rss_rows.select(
        "kind",
        _child(r, "guid").alias("guid"),
        _child(r, "title").alias("title"),
        _child(r, "link").alias("link"),
        _rfc822_ts(_child(r, "pubDate")).alias("pub_ts"),
    )

    atom_rows = (
        src.filter(F.col("kind") == "atom")
        .select(
            "kind",
            F.explode(
                F.regexp_extract_all(
                    F.col("_doc"), F.lit(_ATOM_ENTRY), F.lit(0)
                )
            ).alias("_row"),
        )
    )
    atom = atom_rows.select(
        "kind",
        _child(r, "id").alias("guid"),
        _child(r, "title").alias("title"),
        F.coalesce(_attr(r, "link", "href"), _child(r, "link")).alias(
            "link"
        ),
        # XXX takes "Z" and "+02:00" alike; fractional seconds optional
        F.try_to_timestamp(
            _child(r, "updated"), F.lit("yyyy-MM-dd'T'HH:mm:ss[.SSS]XXX")
        ).alias("pub_ts"),
    )
    return rss.unionByName(atom)


def feed_refresh_candidates(
    entries: DataFrame,
    published: DataFrame,
    *,
    link_col: str = "link",
    ts_col: str = "pub_ts",
    url_col: str = "url",
    published_ts_col: str = "warc_ts",
) -> DataFrame:
    """Close the discovery loop: feed entries assert "page at ``link``
    changed at ``pub_ts``" but carry no content — the CDC-correct
    reading is a FETCH CANDIDATE, not an upsert. Join the freshest
    per-link feed claim against the lake's published (url, warc_ts)
    and emit what the crawler must fetch:

    - ``new``:   the lake has never seen the url;
    - ``stale``: the feed claims a change newer than the stored
      version.

    Links the lake already holds at feed freshness (or newer) emit
    nothing — a feed poll over an up-to-date lake is free. One
    map-side-combinable max per link, then one equi-join on the url
    key; output feeds ``operators/frontier.py`` / ``recrawl.py``."""
    latest = (
        entries.filter(
            F.col(link_col).isNotNull() & F.col(ts_col).isNotNull()
        )
        .groupBy(F.col(link_col).alias("url"))
        .agg(F.max(ts_col).alias("feed_ts"))
    )
    pub = published.select(
        F.col(url_col).alias("_purl"),
        F.col(published_ts_col).alias("_pts"),
    )
    status = (
        F.when(F.col("_pts").isNull(), F.lit("new"))
        .when(F.col("feed_ts") > F.col("_pts"), F.lit("stale"))
    )
    return (
        latest.join(pub, latest["url"] == pub["_purl"], "left")
        .select("url", "feed_ts", status.alias("status"))
        .filter(F.col("status").isNotNull())
    )
