"""Expected outputs for the benchmark's output checks, all from DuckDB.

Registry queries: `registry.ORACLE[qid]` run by DuckDB over the vendored
sf0.1 tables. Each expected frame is cached as parquet under a key that
hashes the oracle SQL together with the data's SHA256SUMS, so editing
either recomputes it.

Sparkify ETL: the package's own `q_sparkify_*` oracle SQL, pointed at
the generated corpus instead of the committed fixture, reduced to row
counts plus an order-insensitive hash (sum of row hashes) of
`songplays` and `time`; the same reduction runs over the warehouse
parquet the pipeline wrote.
"""

from __future__ import annotations

import hashlib
import os

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.path.join(HERE, "data", "sf0.1")

_SONGPLAYS_HASH = (
    "SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(hash(epoch_ms(start_time), user_id, "
    "level, song_id, artist_id, CAST(session_id AS BIGINT), location, user_agent)) "
    "AS VARCHAR) AS h FROM {src}"
)
_TIME_HASH = (
    "SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(hash(epoch_ms(start_time), "
    "CAST(hour AS BIGINT), CAST(day AS BIGINT), CAST(week AS BIGINT), "
    "CAST(month AS BIGINT), CAST(year AS BIGINT), CAST(weekday AS BIGINT))) "
    "AS VARCHAR) AS h FROM {src}"
)


def _key(sql: str) -> str:
    with open(os.path.join(SF_DIR, "SHA256SUMS"), "rb") as f:
        digest = f.read()
    return hashlib.sha256(digest + sql.encode()).hexdigest()[:16]


class QueryOracles:
    """Expected frames for a fixed set of registry queries."""

    def __init__(self, registry, cache_dir: str) -> None:
        self._registry = registry
        self._cache_dir = cache_dir

    def _path(self, qid: str) -> str:
        return os.path.join(self._cache_dir, f"{qid}-{_key(self._registry.ORACLE[qid])}.parquet")

    def ensure(self, qids) -> None:
        """Compute and cache every missing expected frame."""
        from sparkifydb_datawarehouse_spark.tables import TABLE_NAMES, table_path

        missing = [q for q in qids if not os.path.exists(self._path(q))]
        if not missing:
            return
        os.makedirs(self._cache_dir, exist_ok=True)
        con = duckdb.connect()
        try:
            for name in TABLE_NAMES:
                con.execute(
                    f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{table_path(SF_DIR, name)}')"
                )
            for qid in missing:
                path = self._path(qid)
                con.sql(self._registry.ORACLE[qid]).df().to_parquet(path + ".tmp", index=False)
                os.replace(path + ".tmp", path)
        finally:
            con.close()

    def expected(self, qid: str) -> pd.DataFrame:
        return pd.read_parquet(self._path(qid))


def _over_corpus(sql: str, sparkify, log_dir: str, song_dir: str) -> str:
    """Point a `q_sparkify_*` oracle at the generated corpus."""
    out = sql.replace(f"{sparkify.LOG_DIR}/events.json", f"{log_dir}/*.json")
    out = out.replace(f"{sparkify.SONG_DIR}/songs.json", f"{song_dir}/songs.json")
    if out == sql:
        raise RuntimeError("sparkify oracle no longer reads the fixture paths")
    return out


def etl_expected(log_dir: str, song_dir: str) -> dict:
    """Row counts of the five star tables plus (n, hash) of songplays
    and time, from DuckDB over the generated JSON."""
    from sparkifydb_datawarehouse_spark.pipelines import sparkify

    def sql(name: str) -> str:
        return "(" + _over_corpus(getattr(sparkify, name), sparkify, log_dir, song_dir) + ")"

    con = duckdb.connect()
    try:
        count = lambda name: con.sql(f"SELECT count(*) FROM {sql(name)}").fetchone()[0]  # noqa: E731
        return {
            "counts": {
                "songplays": count("_ORACLE_SONGPLAYS"),
                "users": count("_ORACLE_USERS"),
                "songs": count("_ORACLE_SONGS"),
                "artists": count("_ORACLE_ARTISTS"),
                "time": count("_ORACLE_TIME"),
            },
            "songplays": con.sql(_SONGPLAYS_HASH.format(src=sql("_ORACLE_SONGPLAYS"))).fetchone(),
            "time": con.sql(_TIME_HASH.format(src=sql("_ORACLE_TIME"))).fetchone(),
        }
    finally:
        con.close()


def etl_actual(warehouse_dir: str) -> dict:
    """(n, hash) of the songplays and time tables a load wrote."""
    con = duckdb.connect()
    try:
        src = lambda t: f"read_parquet('{warehouse_dir}/{t}/*.parquet')"  # noqa: E731
        return {
            "songplays": con.sql(_SONGPLAYS_HASH.format(src=src("songplays"))).fetchone(),
            "time": con.sql(_TIME_HASH.format(src=src("time"))).fetchone(),
        }
    finally:
        con.close()
