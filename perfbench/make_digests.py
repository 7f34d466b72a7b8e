"""Write ``expected_digests.json``: for each benchmark query, the row
count and order-insensitive digest of its DuckDB oracle result over the
committed sf0.01 drop.

    python3 perfbench/make_digests.py

Run from the root of a checkout.  The benchmark compares against these
instead of running the oracle each time (some oracles take minutes at
larger scale factors).  Rerun only when a query's oracle or the data
changes.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from tests.helpers import duckdb_oracle  # noqa: E402

from mindseye_dataframes_spark.queries import load_all  # noqa: E402
from workloads import EXPECTED, QUERY_DATA, RELATIONAL, UDF_OPERATORS, result_digest  # noqa: E402


def main() -> None:
    registry = load_all()
    out = {}
    for name in RELATIONAL + UDF_OPERATORS:
        cols, rows = duckdb_oracle(registry[name].oracle, QUERY_DATA)
        out[name] = {"rows": len(rows), "digest": result_digest(cols, rows)}
        print(name, out[name], flush=True)
    with open(EXPECTED, "w") as fh:
        json.dump({"data": os.path.relpath(QUERY_DATA, HERE), "queries": out}, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()
