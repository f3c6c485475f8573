"""Correctness gate: final table state vs the DuckDB oracle replay.

Both sides reduce the final state to (row count, order-independent digest)
inside their own engine, so no content crosses into pandas. The digest is
the sum over live rows of the first 60 bits of
sha256(repo, path, commit, lang, sha256(content)).
"""

from __future__ import annotations

import duckdb

from embulk_output_bigquery_java_spark.oracle import FINAL_STATE_SQL

SEP = "\x1f"

_ORACLE_SQL = """
SELECT count(*) AS n,
       coalesce(sum(('0x' || substr(sha256(concat_ws(chr(31), repo, path,
           "commit", lang, sha256(content))), 1, 15))::UBIGINT::HUGEINT), 0)
       AS digest
FROM ({body})
"""


def spark_digest(df) -> tuple[int, int]:
    from pyspark.sql import functions as F

    row_hash = F.sha2(
        F.concat_ws(SEP, "repo", "path", "commit", "lang", F.sha2("content", 256)),
        256,
    )
    part = F.conv(F.substring(row_hash, 1, 15), 16, 10).cast("decimal(38,0)")
    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(part).alias("d")).first()
    return int(r["n"]), int(r["d"] or 0)


def oracle_digest(changelog_dir: str, lo: int, hi: int, *, threads: int,
                  temp_dir: str) -> tuple[int, int]:
    """FINAL_STATE_SQL over the parquet changelog's [lo, hi) offsets, from
    an empty initial table."""
    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {int(threads)}")
        con.execute("SET memory_limit = '1GB'")
        con.execute(f"SET temp_directory = '{temp_dir}'")
        con.execute(
            "CREATE VIEW changes AS SELECT * FROM "
            f"read_parquet('{changelog_dir}/*.parquet')"
        )
        con.execute(
            'CREATE TABLE initial (repo VARCHAR, path VARCHAR, "commit" VARCHAR, '
            "lang VARCHAR, content VARCHAR)"
        )
        body = FINAL_STATE_SQL.replace("$lo", str(int(lo))).replace("$hi", str(int(hi)))
        n, d = con.execute(_ORACLE_SQL.format(body=body)).fetchone()
        return int(n), int(d)
    finally:
        con.close()
