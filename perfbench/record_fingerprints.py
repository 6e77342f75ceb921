"""Record the headline output checks: for every headline entry, run its
``queries()`` builder on Spark and its ``oracle_sql()`` on DuckDB over
the same parquet tables, require identical canonical rows, and store
the row count and fingerprint in ``fingerprints.json``.

Run from the repo root when the headline set or the data changes:

    python3 perfbench/record_fingerprints.py --scale sf0.001
    python3 perfbench/record_fingerprints.py --scale sf0.1 [--only NAME ...]

Entries are merged into the file one by one, so a slow oracle (the
all-pairs Jaccard of ``dedup_minhash_lsh`` takes tens of minutes at
sf0.1) can be recorded on its own.  A mismatch records nothing for
that entry and makes the script exit 1.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import DATA, HERE, OUT, fingerprint  # noqa: E402
from perfbench.headline import HEADLINE, TABLES  # noqa: E402
from perfbench.run import spark_env  # noqa: E402

PATH = os.path.join(HERE, "fingerprints.json")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", required=True)
    ap.add_argument("--only", nargs="*", default=HEADLINE)
    args = ap.parse_args()

    import duckdb

    tmp = os.path.join(OUT, "record-tmp")
    os.makedirs(os.path.join(tmp, "spark-local"), exist_ok=True)
    os.environ.update(spark_env(tmp))
    from flo_spark.queries import oracle_sql, queries
    from flo_spark.session import get_spark

    spark = get_spark("perfbench_record")
    qmap, omap = queries(), oracle_sql()
    sf_dir = os.path.join(DATA, args.scale)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t)}.parquet'")
    bad = []
    for name in args.only:
        spd = qmap[name](spark, sf_dir).toPandas()
        dpd = con.execute(omap[name]).df()
        s = fingerprint(list(spd.columns), spd.itertuples(index=False, name=None))
        d = fingerprint(list(dpd.columns), dpd.itertuples(index=False, name=None))
        print(f"{args.scale} {name}: spark {s} oracle {d}", file=sys.stderr, flush=True)
        if s != d:
            bad.append(name)
            continue
        try:
            with open(PATH) as f:
                recorded = json.load(f)
        except FileNotFoundError:
            recorded = {}
        recorded.setdefault(args.scale, {})[name] = {"rows": s[0], "fingerprint": s[1]}
        with open(PATH, "w") as f:
            json.dump(recorded, f, indent=1, sort_keys=True)
            f.write("\n")
    con.close()
    spark.stop()
    if bad:
        print(f"oracle mismatch, not recorded: {bad}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
