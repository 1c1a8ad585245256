"""DuckDB reference answers over the same parquet files Spark read."""

from __future__ import annotations

import duckdb


class Oracle:
    def __init__(self, temp_dir: str) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        self.con.execute("SET threads = 2")
        self.con.execute(f"SET temp_directory = '{temp_dir}'")

    def view(self, name: str, files: str) -> None:
        self.con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{files}', hive_partitioning = false)"
        )

    def rows(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    def mismatches(self, result_dir: str, sql: str) -> int:
        """Rows in one answer and not the other (a multiset
        difference, both ways) between a Spark result written as
        parquet under ``result_dir`` and the oracle's ``sql``."""
        self.con.execute(f"CREATE OR REPLACE TEMP VIEW want AS {sql}")
        cols = [d[0] for d in self.con.execute("SELECT * FROM want LIMIT 0").description]
        got = (
            f"SELECT {', '.join(cols)} FROM "
            f"read_parquet('{result_dir}/*.parquet')"
        )
        return self.con.execute(
            f"SELECT count(*) FROM (({got} EXCEPT ALL SELECT * FROM want) "
            f"UNION ALL (SELECT * FROM want EXCEPT ALL {got}))"
        ).fetchone()[0]

    def close(self) -> None:
        self.con.close()
