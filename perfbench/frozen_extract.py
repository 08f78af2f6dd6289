"""Frozen copy of the pinned HTML→text extractor.

The correctness gate compares the lake's ``text`` column byte-for-byte
against this module, never against ``embulk_spark.functions.extract``: a
rewrite of the engine's extraction UDF that changes its output must fail
the benchmark, so the reference cannot share code with the engine.

Contract (unchanged from the engine's pinned oracle at the time this copy
was taken): decode UTF-8 with replacement on malformed bytes; drop
comments, then script and style blocks, then every tag (each replaced by
one space); resolve a fixed entity table, ``&amp;`` last; collapse every
run of whitespace to one space and strip both ends.
"""

from __future__ import annotations

import re

_ENTITIES = (
    ("&nbsp;", " "),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&amp;", "&"),
)

_COMMENT = re.compile(r"(?s)<!--.*?-->")
_SCRIPT = re.compile(r"(?is)<script\b.*?</script\s*>")
_STYLE = re.compile(r"(?is)<style\b.*?</style\s*>")
_TAG = re.compile(r"(?s)<[^>]*>")
_WS = re.compile(r"\s+")


def extract_text(html: bytes | None) -> str | None:
    """Pinned bytes → text reference."""
    if html is None:
        return None
    s = html.decode("utf-8", errors="replace")
    s = _COMMENT.sub(" ", s)
    s = _SCRIPT.sub(" ", s)
    s = _STYLE.sub(" ", s)
    s = _TAG.sub(" ", s)
    for ent, rep in _ENTITIES:
        s = s.replace(ent, rep)
    return _WS.sub(" ", s).strip()
