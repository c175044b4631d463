"""Correctness check of one written ``.nt`` file against DuckDB's expectation."""

from __future__ import annotations

import duckdb

from workloads import expected_count, expected_sql, source_tables


class Checker:
    """Holds one workload's expected lines; ``check`` compares a file."""

    def __init__(self, workload: str, input_dir: str, rows: int,
                 threads: int = 4) -> None:
        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {threads}")
        for t in source_tables(workload):
            self.con.execute(
                f"CREATE TABLE {t} AS SELECT * FROM read_csv(?, "
                "all_varchar=true, header=true)", [f"{input_dir}/{t}.csv"])
        self.con.execute("CREATE TABLE expected AS " + expected_sql(workload))
        self.count = expected_count(workload, rows)
        (n,) = self.con.execute("SELECT count(*) FROM expected").fetchone()
        if n != self.count:
            raise RuntimeError(f"{workload}: DuckDB expects {n} triples, the "
                               f"closed form {self.count}")

    def close(self) -> None:
        self.con.close()

    def check(self, nt_path: str) -> list[str]:
        """Problems found in ``nt_path``; empty when it is correct."""
        con = self.con
        problems = []
        try:
            con.execute(
                "CREATE OR REPLACE TEMP TABLE got AS SELECT line FROM "
                "read_csv(?, columns={'line': 'VARCHAR'}, delim=chr(31), "
                "quote='', escape='', header=false, auto_detect=false)",
                [nt_path])
        except duckdb.Error as e:
            return [f"unreadable output: {e}"]
        n, n_distinct = con.execute(
            "SELECT count(*), count(DISTINCT line) FROM got").fetchone()
        if n != self.count:
            problems.append(f"{n} lines, expected {self.count}")
        if n_distinct != n:
            problems.append(f"{n - n_distinct} duplicate lines")
        # with no duplicates and equal counts, multiset equality is
        # "every written line is expected"; name the difference otherwise
        (matched,) = con.execute(
            "SELECT count(*) FROM got SEMI JOIN expected USING (line)"
        ).fetchone()
        if matched != n or problems:
            (missing,) = con.execute(
                "SELECT count(*) FROM expected ANTI JOIN got USING (line)"
            ).fetchone()
            if missing or matched != n:
                problems.append(f"{missing} expected lines missing, "
                                f"{n - matched} unexpected lines")
        con.execute("DROP TABLE got")
        return problems
