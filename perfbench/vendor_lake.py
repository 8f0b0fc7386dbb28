"""Copy the sf0.1 tables the corpus/graph queries read into ``lake/``.

    python3 perfbench/vendor_lake.py SF01_DIR

The benchmark reads only files inside its checkout, so the two sf0.1
tables its queries and their DuckDB oracles read are kept in this
directory:

- ``documents.parquet``: a byte-for-byte copy (5,000 documents);
- ``lineitem.parquet``: the two columns the graph queries read,
  ``l_orderkey`` and ``l_partkey``, every row in the source's order, in one
  snappy row group like the source (600,000 rows).

Re-run it when a workload gains a query that reads another table or column.
"""

from __future__ import annotations

import os
import shutil
import sys

import pyarrow.parquet as pq

LAKE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "lake")
LINEITEM_COLUMNS = ["l_orderkey", "l_partkey"]


def vendor(src: str, dst: str = LAKE) -> None:
    os.makedirs(dst, exist_ok=True)
    shutil.copyfile(os.path.join(src, "documents.parquet"), os.path.join(dst, "documents.parquet"))
    li = pq.read_table(os.path.join(src, "lineitem.parquet"), columns=LINEITEM_COLUMNS)
    pq.write_table(li.replace_schema_metadata(None), os.path.join(dst, "lineitem.parquet"),
                   compression="snappy", row_group_size=li.num_rows)


if __name__ == "__main__":
    if len(sys.argv) != 2:
        raise SystemExit(__doc__)
    vendor(sys.argv[1])
