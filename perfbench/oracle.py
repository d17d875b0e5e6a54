"""DuckDB oracle answers for the registry keys a workload runs.

Each key's oracle SQL runs once per data directory, over views of the
generated Parquet tables, and the answer is reused by every later check
of that key. Results are compared with the repository's own
``tools/check_correctness.compare``: row count, column names, dtype
family and order-insensitive values.
"""

from __future__ import annotations

import duckdb

from datagen import TABLES


class Oracle:
    def __init__(self, data_dir: str, sql: dict[str, str], compare):
        self.data_dir = data_dir
        self._sql = sql
        self._compare = compare
        self._answers: dict = {}
        self._con = None

    def answer(self, key: str):
        if key not in self._answers:
            if self._con is None:
                self._con = duckdb.connect()
                for t in TABLES:
                    self._con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.data_dir}/{t}.parquet')"
                    )
            self._answers[key] = self._con.execute(self._sql[key]).df()
        return self._answers[key]

    def compare(self, key: str, spark_pdf) -> list[str]:
        """Problems found comparing a Spark result with the oracle's;
        empty when they match."""
        if key not in self._sql:
            return [f"no oracle for {key}"]
        try:
            return self._compare(key, spark_pdf, self.answer(key))
        except TypeError as exc:  # the canonicaliser cannot sort the frame
            return [f"canonicaliser: {exc}"]

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
