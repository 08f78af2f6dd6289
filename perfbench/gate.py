"""Independent correctness gate, run off the clock.

The expected state is computed in pandas from the generated inputs alone:
each url's winner is its event with the largest (warc_ts, seq); a url
whose winner is a delete is absent; a live url's text is the frozen
reference extractor applied to the winner's html. The lake's published
state must hold exactly the expected urls, each with the winner's seq and
byte-identical text.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa

from frozen_extract import extract_text


def expected_from_events(events: pa.Table) -> pd.DataFrame:
    """url → (seq, text) of every live url after applying ``events``."""
    df = events.select(["seq", "op", "url", "warc_ts", "html"]).to_pandas()
    df = df[df["op"] != "S"]
    win = df.sort_values(["url", "warc_ts", "seq"]).drop_duplicates("url", keep="last")
    live = win[win["op"] != "D"]
    return pd.DataFrame({
        "url": live["url"].to_numpy(),
        "seq": live["seq"].to_numpy(),
        "text": [extract_text(h) for h in live["html"]],
    })


def compare(actual: pd.DataFrame, expected: pd.DataFrame, limit: int = 5) -> list[str]:
    """Mismatches between two url → (seq, text) frames; empty when equal."""
    problems = []
    a = actual.set_index("url")
    e = expected.set_index("url")
    if a.index.has_duplicates:
        problems.append(f"{int(a.index.duplicated().sum())} duplicate urls in the lake")
        a = a[~a.index.duplicated()]
    missing = e.index.difference(a.index)
    extra = a.index.difference(e.index)
    if len(missing):
        problems.append(f"{len(missing)} urls missing, e.g. {list(missing[:limit])}")
    if len(extra):
        problems.append(f"{len(extra)} unexpected urls, e.g. {list(extra[:limit])}")
    both = e.index.intersection(a.index)
    a, e = a.loc[both], e.loc[both]
    bad_seq = both[a["seq"].to_numpy() != e["seq"].to_numpy()]
    if len(bad_seq):
        problems.append(f"{len(bad_seq)} urls with the wrong winner, e.g. {list(bad_seq[:limit])}")
    a_text = [t.encode("utf-8") if t is not None else None for t in a["text"]]
    e_text = [t.encode("utf-8") if t is not None else None for t in e["text"]]
    bad_text = [u for u, x, y in zip(both, a_text, e_text) if x != y]
    if bad_text:
        problems.append(f"{len(bad_text)} urls with different text, e.g. {bad_text[:limit]}")
    return problems
