"""Registry pin: the query modules may be regrouped, but every registry
entry keeps its name, tags, oracle string and docstring byte for byte.

The digests were taken before the round-named query modules were folded
into family modules; a change to any name, tag, oracle or docstring
changes them. No Spark session is needed: importing the query modules
populates the registry.
"""

from __future__ import annotations

import hashlib
import re
from pathlib import Path

from parking_violations_data_pipeline_spark.registry import REGISTRY, all_queries

QUERIES = Path(__file__).resolve().parent.parent / "parking_violations_data_pipeline_spark" / "queries"


def _md5(text: str) -> str:
    return hashlib.md5(text.encode()).hexdigest()


def test_names_and_oracles_pinned():
    all_queries()
    assert len(REGISTRY) == 501
    pairs = sorted((name, _md5(q.oracle or "")) for name, q in REGISTRY.items())
    assert _md5(repr(pairs)) == "ab8de3709cb7ccc038a8fbdf3db7534a"


def test_tags_and_docstrings_pinned():
    all_queries()
    rows = sorted(
        (name, q.tags, _md5(q.oracle or ""), _md5(q.fn.__doc__ or ""))
        for name, q in REGISTRY.items()
    )
    assert _md5(repr(rows)) == "282a431b276e7ff1b6f21fec4c902d1d"


def test_no_round_named_query_modules():
    stale = [p.name for p in QUERIES.glob("*.py") if re.fullmatch(r"widen\d+\.py", p.name)]
    assert stale == []
