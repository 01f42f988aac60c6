"""The driver contract's query order (``__spark_entry__.py``).

The driver checks only the first ~50 queries of ``queries()`` per round,
so the order is grading policy: repaired queries first, then by the
latest round the driver proved each query (never-proven first), ties
broken oldest registration first. The rule is restated here on purpose,
so a change to it in the entry module shows up as a failure."""

from __future__ import annotations

import glob
import json
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_driver_order_is_unchanged():
    import __spark_entry__ as entry
    from etl4s_spark.queries import ORACLES, QUERIES, load_all

    load_all()
    registered = list(QUERIES)
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        with open(path) as f:
            for name, row in json.load(f).items():
                if isinstance(row, dict) and (
                    row.get("hash_match") is True
                    or (row.get("err") == "no_oracle" and row.get("spark_rows"))
                ):
                    last[name] = max(last.get(name, 0), rnd)
    with open(os.path.join(REPO, "registry_age.json")) as f:
        age = json.load(f)
    expected = sorted(
        registered,
        key=lambda n: (n != "q_dedup_embedding_lsh", last.get(n, 0), int(age.get(n, 999))),
    )
    assert list(entry.queries()) == expected
    assert list(entry.oracle_sql()) == [n for n in expected if n in ORACLES]
    # load_all() only registers: the policy is applied in the entry module
    assert list(QUERIES) == registered != expected
