"""Per-query oracle parity check, the driver's comparison (strict
string canon over sorted rows), at sf0.01 and sf0.001.

Usage:  python tools/check_query.py <query> [<query> ...]

Exit 0 iff every named query matches its DuckDB oracle at both SFs.
Used to prove result-identity for every r15 optimization before it
lands (the driver re-runs every declared query after the round; a
hash drift = REGRESSION regardless of speed).
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def main() -> None:
    names = sys.argv[1:]
    if not names:
        raise SystemExit("usage: check_query.py <query> [...]")
    import duckdb

    from ftp_blueprints_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        "check-query", master=f"local[{cpus}]", shuffle_partitions=int(cpus)
    )
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as m

    qs, os_ = m.queries(), m.oracle_sql()
    rc = 0
    for sf in ("sf0.01", "sf0.001"):
        sf_dir = f"/root/testdata/{sf}"
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')"
            )
        for name in names:
            if name not in os_:
                print(f"{sf} {name} NO-ORACLE (rows-only query)")
                continue
            # real-listing oracles hardcode sf0.01 paths (static SQL)
            if "read_blob" in os_[name] or "glob(" in os_[name]:
                if sf != "sf0.01":
                    print(f"{sf} {name} SKIP (sf0.01-pinned oracle)")
                    continue
            sp = qs[name](spark, sf_dir).toPandas()
            oc = con.execute(os_[name]).fetchdf()
            cols = sorted(sp.columns)
            ok = sorted(map(tuple, sp[cols].astype(str).values.tolist())) == sorted(
                map(tuple, oc[cols].astype(str).values.tolist())
            )
            print(f"{sf} {name} {ok}")
            if not ok:
                rc = 1
    spark.stop()
    raise SystemExit(rc)


if __name__ == "__main__":
    main()
