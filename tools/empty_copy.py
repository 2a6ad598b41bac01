#!/usr/bin/env python3
"""Write a zero-row copy of a test-data directory.

Usage: python3 tools/empty_copy.py <sfDir> <outDir>

Every `<table>.parquet` in <sfDir> is copied to <outDir> with the same
Arrow schema (field types, nullability and metadata) and no rows. Running
graft.Verify and tools/check.py against <outDir> then checks every gate on
empty input:

    python3 tools/empty_copy.py /path/to/sf0.001 /tmp/sf_empty
    sbt "runMain graft.Verify /tmp/sf_empty /tmp/vout_empty"
    python3 tools/check.py /tmp/sf_empty /tmp/vout_empty
"""
import sys
from pathlib import Path

import pyarrow.parquet as pq


def main() -> None:
    if len(sys.argv) != 3:
        sys.exit(__doc__.split("\n\n")[1])
    src, out = Path(sys.argv[1]), Path(sys.argv[2])
    tables = sorted(src.glob("*.parquet"))
    if not tables:
        sys.exit(f"empty_copy: no *.parquet in {src}")
    out.mkdir(parents=True, exist_ok=True)
    for t in tables:
        schema = pq.read_schema(t)
        pq.write_table(schema.empty_table(), out / t.name)
        print(f"{t.name}: {len(schema)} columns, 0 rows")


if __name__ == "__main__":
    main()
