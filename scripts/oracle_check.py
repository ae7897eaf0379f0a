"""Oracle-compare named catalog queries at one SF, the way the round
driver does (vanilla SparkSession, DuckDB twin, sorted-frame equality).

Usage: python scripts/oracle_check.py [--sf 0.01] name [name ...]
"""
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)


def main() -> None:
    args = sys.argv[1:]
    sf = "0.01"
    if args and args[0] == "--sf":
        sf = args[1]
        args = args[2:]
    names = args
    sf_dir = f"/root/testdata/sf{sf}"

    from pyspark.sql import SparkSession

    spark = vanilla_session()
    import __spark_entry__ as m

    qs, oracles = m.queries(), m.oracle_sql()
    con = duck_views(sf_dir)
    bad = []
    for name in names:
        sdf = qs[name](spark, sf_dir).toPandas()
        if name not in oracles:
            print(name, "rows-only", len(sdf))
            continue
        ok = agrees(sdf, con.sql(oracles[name]).df())
        if not ok:
            bad.append(name)
        print(name, len(sdf), "OK" if ok else "MISMATCH")
    print("MISMATCHES:", bad or "none")
    sys.exit(1 if bad else 0)


def vanilla_session():
    """A SparkSession with none of the package's configs, the kind a
    caller of ``__spark_entry__`` brings."""
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def duck_views(sf_dir: str):
    """A DuckDB connection with one view per table of ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS FROM '{sf_dir}/{t}.parquet'")
    return con


def agrees(sdf, ddf) -> bool:
    """Spark and DuckDB pandas frames are equal once columns are sorted
    by name and rows by every column."""
    s = sdf[sorted(sdf.columns)].sort_values(by=sorted(sdf.columns), ignore_index=True)
    d = ddf[sorted(ddf.columns)].sort_values(by=sorted(ddf.columns), ignore_index=True)
    return s.shape == d.shape and list(s.columns) == list(d.columns) and s.equals(d)


if __name__ == "__main__":
    main()
