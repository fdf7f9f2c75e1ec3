"""Write perfbench/corpus_sample/: a seeded sample of the sf0.1 test
data's documents and embeddings tables, which gen.py grows the
corpus_dedup input from.

    python3 perfbench/make_corpus_sample.py <sf0.1 directory>

A benchmark run reads only inside its checkout, so the sample is
committed; this script records how it was made.  Rows keep every
column of the source tables, in source order.
"""

from __future__ import annotations

import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(HERE, "corpus_sample")
SAMPLE = {"documents": 1500, "embeddings": 1000}
SEED = 20240101


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    os.makedirs(OUT, exist_ok=True)
    for name, n in SAMPLE.items():
        src = pq.read_table(os.path.join(argv[0], name + ".parquet"))
        keep = sorted(random.Random("%s:%d" % (name, SEED)).sample(
            range(src.num_rows), n))
        table = src.take(pa.array(keep)).replace_schema_metadata(None)
        pq.write_table(table, os.path.join(OUT, name + ".parquet"),
                       compression="zstd")
        print("%s: %d of %d rows" % (name, n, src.num_rows))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
