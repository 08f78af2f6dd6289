"""Seeded input generator owned by the benchmark.

Single process, numpy + pyarrow only: no Spark job and no per-row Python
beyond building a small pool of page bodies. Inputs therefore stay fixed
when the program's own generator (``embulk_spark/sources/events.py``)
changes, and generating them costs well under a second per 100k events.

It produces change-event logs in the program's ``EVENT_SCHEMA`` column
layout (seq, epoch, op, url, warc_ts, html, lang, schema_change), written
as an ``epoch=N``-partitioned parquet dataset.

Hosts follow a Zipf(1.2) popularity with host 0 pinned to a hot fraction.
Every url's first event is an insert; later events are updates or deletes.
Duplicates are exact copies (same seq) re-sent in a later epoch; late
events land one to three epochs after their natural epoch.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

N_HOSTS = 100
ZIPF_EXP = 1.2
BASE_TS = 1_700_000_000  # seconds; 2023-11-14T22:13:20Z
LANGS = ("en", "de", "fr", "ja", "unknown")

_WORDS = {
    "en": "the and of to in is that for with this".split(),
    "de": "der die das und ist nicht mit ein für auf".split(),
    "fr": "le la les et est pas pour que une dans".split(),
    "ja": "の に は を た が で て と です".split(),
    "unknown": [],
}
_FILLER = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod "
    "tempor incididunt ut labore et dolore magna aliqua"
).split()

EVENT_SCHEMA = pa.schema([
    pa.field("seq", pa.int64(), False),
    pa.field("epoch", pa.int64(), False),
    pa.field("op", pa.string(), False),
    pa.field("url", pa.string(), False),
    pa.field("warc_ts", pa.timestamp("us"), False),
    pa.field("html", pa.binary()),
    pa.field("lang", pa.string()),
    pa.field("schema_change", pa.string()),
])

def host_weights(hot_frac: float, n_hosts: int = N_HOSTS) -> np.ndarray:
    """Zipf(1.2) host popularity with host 0 pinned to ``hot_frac``."""
    w = np.arange(1, n_hosts + 1, dtype=np.float64) ** (-ZIPF_EXP)
    w[0] = 0.0
    w *= (1.0 - hot_frac) / w.sum()
    w[0] = hot_frac
    return w


def url_strings(url_idx: np.ndarray) -> pa.Array:
    """``https://hostHHH.example.org/p/NNNNNNNN`` with host = idx % N_HOSTS."""
    idx = url_idx.astype(np.int64)
    host = pc.utf8_lpad(pc.cast(pa.array(idx % N_HOSTS), pa.string()), 3, "0")
    page = pc.utf8_lpad(pc.cast(pa.array(idx), pa.string()), 8, "0")
    return pc.binary_join_element_wise(
        "https://host", host, ".example.org/p/", page, ""
    )


def lang_of(url_idx: np.ndarray) -> np.ndarray:
    """Per-url language code index (a fixed hash of the url index)."""
    return ((url_idx.astype(np.uint64) * np.uint64(2654435761)) >> np.uint64(7)) % len(LANGS)


POOL_PER_LANG = 256


def body_pool(rng: np.random.Generator) -> pa.Array:
    """``POOL_PER_LANG`` page bodies per language, language-major: 30 to
    119 words of that language's stopwords mixed with filler."""
    out = []
    for lang in LANGS:
        vocab = np.array(_WORDS[lang] + _FILLER)
        for _ in range(POOL_PER_LANG):
            words = vocab[rng.integers(0, len(vocab), int(rng.integers(30, 120)))]
            out.append(" ".join(words))
    return pa.array(out)


def html_column(
    rng: np.random.Generator,
    pool: pa.Array,
    url_idx: np.ndarray,
    version: np.ndarray,
    urls: pa.Array,
) -> pa.Array:
    """Pseudo-HTML per row: title, style, comment, script, entities and a
    language-specific body drawn from ``pool``. About 1 row in 17 carries
    an invalid UTF-8 tail, which the extractor must decode with
    replacement."""
    lang = lang_of(url_idx).astype(np.int64)
    pick = lang * POOL_PER_LANG + rng.integers(0, POOL_PER_LANG, len(url_idx))
    body = pool.take(pa.array(pick))
    ver = pc.cast(pa.array(version.astype(np.int64)), pa.string())
    title = pc.binary_join_element_wise(
        pc.utf8_slice_codeunits(urls, 30), " v", ver, ""
    )
    html = pc.binary_join_element_wise(
        "<html><head><title>", title,
        "</title><style>p {color: red}</style></head>\n<body><!-- gen v", ver,
        " --><script>var x = ", ver, ";</script><h1>", title,
        " &amp; friends</h1><p>", body,
        "</p><p>entity check: &lt;tag&gt; &quot;q&quot; &nbsp;end</p></body></html>",
        "",
    )
    html = pc.cast(html, pa.binary())
    bad = pa.array(rng.random(len(url_idx)) < 1 / 17)
    garbage = pa.scalar(b"\xff\xfe trailing-garbage", pa.binary())
    empty = pa.scalar(b"", pa.binary())
    return pc.if_else(bad, pc.binary_join_element_wise(html, garbage, empty), html)


def change_events(
    seed: int,
    *,
    n_events: int,
    n_urls: int,
    n_epochs: int,
    hot_frac: float,
    p_dup: float = 0.05,
    p_late: float = 0.03,
    p_delete: float = 0.10,
) -> pa.Table:
    """A change-event log of ``n_events`` (plus ~``p_dup`` duplicates) over
    ``n_urls`` urls in ``n_epochs`` epochs. Pure function of its args."""
    rng = np.random.default_rng(seed)
    seq = np.arange(n_events, dtype=np.int64)
    host = rng.choice(N_HOSTS, size=n_events, p=host_weights(hot_frac))
    per_host = max(1, n_urls // N_HOSTS)
    url_idx = host + N_HOSTS * rng.integers(0, per_host, n_events)
    _, first = np.unique(url_idx, return_index=True)
    op = np.where(rng.random(n_events) < p_delete, "D", "U")
    op[first] = "I"
    natural = seq * n_epochs // n_events
    late = rng.random(n_events) < p_late
    epoch = np.where(late, natural + rng.integers(1, 4, n_events), natural)
    epoch = np.minimum(epoch, n_epochs - 1)
    dup = np.flatnonzero(rng.random(n_events) < p_dup)
    dup_epoch = np.minimum(epoch[dup] + rng.integers(1, 3, len(dup)), n_epochs - 1)

    urls = url_strings(url_idx)
    live = op != "D"
    html = html_column(rng, body_pool(rng), url_idx, seq, urls)
    html = pc.if_else(pa.array(live), html, pa.nulls(n_events, pa.binary()))
    lang = pa.array(np.array(LANGS, dtype=object)[lang_of(url_idx)])
    lang = pc.if_else(pa.array(live), lang, pa.nulls(n_events, pa.string()))
    table = pa.table({
        "seq": seq,
        "epoch": epoch.astype(np.int64),
        "op": pa.array(op),
        "url": urls,
        "warc_ts": pa.array((BASE_TS + seq) * 1_000_000, pa.timestamp("us")),
        "html": html,
        "lang": lang,
        "schema_change": pa.nulls(n_events, pa.string()),
    }, schema=EVENT_SCHEMA)
    dups = table.take(pa.array(dup)).set_column(
        1, EVENT_SCHEMA.field("epoch"), pa.array(dup_epoch.astype(np.int64))
    )
    return pa.concat_tables([table, dups])


def write_event_log(table: pa.Table, path: str) -> int:
    """Write ``table`` as an ``epoch=N``-partitioned parquet log; returns
    the bytes written."""
    epochs = table.column("epoch").to_numpy()
    order = np.argsort(epochs, kind="stable")
    table = table.take(pa.array(order))
    epochs = epochs[order]
    for e in np.unique(epochs):
        lo, hi = np.searchsorted(epochs, [e, e + 1])
        part = os.path.join(path, f"epoch={int(e)}")
        os.makedirs(part, exist_ok=True)
        pq.write_table(table.slice(lo, hi - lo).drop(["epoch"]),
                       os.path.join(part, "part-0.parquet"))
    return tree_bytes(path)


def tree_bytes(path: str) -> int:
    """Total size of the regular files under ``path``."""
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
