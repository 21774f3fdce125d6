"""Output checks, run after the timed window.

Every op's output lands as parquet; here DuckDB reads it back and
``frame_fingerprint`` (row count, sorted column names, order-insensitive
value hash — imported from ``tools/check_correctness.py``, the engine's
own oracle gate) compares it to the ``ALL_ORACLES`` DuckDB twin run on the
same generated files. FLAGSHIP, which has no oracle, gets stated invariants, and
the etl-star star is compared with a DuckDB replay of every slice.
"""

from __future__ import annotations

import glob
import hashlib
import importlib.util
import os
import tempfile

import duckdb

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_frame_fingerprint():
    path = os.path.join(_ROOT, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.frame_fingerprint


frame_fingerprint = _load_frame_fingerprint()

#: the wide (denormalized) surface the etl CLI derives from an event row
WIDE_SQL = """
SELECT event_id AS key,
       'user_' || CAST(user_id % 500 AS VARCHAR) AS reviewer_name,
       'user_' || CAST(user_id % 499 AS VARCHAR) AS reporter_name,
       upper(event_type) AS project_name, ts, value
FROM read_parquet('{path}')
"""

STAR_READ_SQL = """
SELECT f.key, f.ts, f.value, u1.username AS reviewer_name,
       u2.username AS reporter_name, p.name AS project_name
FROM {fact} f
LEFT JOIN {users} u1 ON f.fk_reviewer = u1.id
LEFT JOIN {users} u2 ON f.fk_reporter = u2.id
LEFT JOIN {projects} p ON f.fk_project = p.id
"""


def query_fingerprint(con, sql: str) -> tuple:
    cur = con.execute(sql)
    return frame_fingerprint([d[0] for d in cur.description], cur.fetchall())


class Checker:
    """DuckDB connection over one workload's generated files."""

    def __init__(self, data_dir: str) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET threads=4")
        self.con.execute("SET memory_limit='2GB'")
        self.con.execute("SET preserve_insertion_order=false")
        # spill (if ever) under the run's temp dir, not DuckDB's default
        # ./.tmp in the current directory
        self.con.execute(f"SET temp_directory='{tempfile.gettempdir()}'")
        for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
            name = os.path.basename(path)[: -len(".parquet")]
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )
        self._cache: dict[str, tuple] = {}
        #: content digest of a parquet directory -> its fingerprint
        self._dirs: dict[str, tuple] = {}
        self.dir_reuses = 0

    def fingerprint_sql(self, sql: str) -> tuple:
        if sql not in self._cache:
            self._cache[sql] = query_fingerprint(self.con, sql)
        return self._cache[sql]

    def fingerprint_dir(self, path: str) -> tuple:
        """Fingerprint of a Spark-written parquet directory. Passes that
        write byte-identical part files (the usual case) share one
        fingerprint: the fingerprint is order-insensitive, so the sorted
        digests of the part files identify it."""
        parts = glob.glob(os.path.join(path, "*.parquet"))
        if not parts:
            raise FileNotFoundError(f"no parquet part files under {path}")
        key = hashlib.sha256()
        for d in sorted(_file_digest(p) for p in parts):
            key.update(d)
        key = key.hexdigest()
        if key in self._dirs:
            self.dir_reuses += 1
        else:
            self._dirs[key] = query_fingerprint(
                self.con, f"SELECT * FROM read_parquet('{path}/*.parquet')"
            )
        return self._dirs[key]

    def scalar(self, sql: str):
        return self.con.execute(sql).fetchone()[0]


def _file_digest(path: str) -> bytes:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.digest()


def compare(got: tuple, want: tuple) -> str | None:
    """None when two fingerprints agree, else what differs."""
    problems = []
    if got[0] != want[0]:
        problems.append(f"rows {got[0]} != {want[0]}")
    if got[1] != want[1]:
        problems.append(f"columns {got[1]} != {want[1]}")
    if not problems and got[2] != want[2]:
        problems.append("value hash mismatch")
    return "; ".join(problems) or None


def flagship_invariant(chk: Checker, out_dir: str) -> str | None:
    """FLAGSHIP has no oracle. Stated invariants: one row per (region,
    priority) group of the orders passing its source predicate
    (status != 'P', price != 0); ``n_orders`` sums to that order count;
    ``n_deltas`` never exceeds ``n_orders``."""
    src = "FROM orders WHERE o_orderstatus <> 'P' AND o_totalprice <> 0"
    want_orders = chk.scalar(f"SELECT count(*) {src}")
    want_groups = chk.scalar(
        "SELECT count(*) FROM (SELECT DISTINCT r_name, o_orderpriority "
        "FROM orders JOIN customer ON o_custkey = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey "
        "WHERE o_orderstatus <> 'P' AND o_totalprice <> 0)"
    )
    got = chk.con.execute(
        f"SELECT count(*), sum(n_orders), max(CAST(n_deltas > n_orders AS INT)) "
        f"FROM read_parquet('{out_dir}/*.parquet')"
    ).fetchone()
    if (got[0], got[1], got[2]) != (want_groups, want_orders, 0):
        return f"flagship invariant: got {got}, want ({want_groups}, {want_orders}, 0)"
    return None


class StarReplay:
    """DuckDB replay of the denormalizing sink over the arrival slices:
    NOT NULL gate on (key, reviewer, project), dense ids per dimension
    (max(id) + row_number over the new names in name order), then the
    fact anti-join on ``key``. ``state(i)`` is the star after slice i."""

    def __init__(self, chk: Checker, slice_paths: list[str]) -> None:
        self.con = chk.con
        self.paths = slice_paths
        self.done = -1
        c = self.con
        c.execute(
            "CREATE TABLE r_fact(key BIGINT, ts TIMESTAMP, value DOUBLE, "
            "fk_reviewer BIGINT, fk_reporter BIGINT, fk_project BIGINT)"
        )
        c.execute("CREATE TABLE r_user(id BIGINT, username VARCHAR)")
        c.execute("CREATE TABLE r_project(id BIGINT, name VARCHAR)")
        self.snapshots: dict[int, dict[str, tuple]] = {}

    def _apply(self, path: str) -> None:
        c = self.con
        c.execute(
            "CREATE OR REPLACE TEMP TABLE r_ok AS SELECT * FROM ("
            + WIDE_SQL.format(path=path)
            + ") WHERE key IS NOT NULL AND reviewer_name IS NOT NULL "
            "AND project_name IS NOT NULL"
        )
        for dim, nk, cols in (
            ("r_user", "username", ("reviewer_name", "reporter_name")),
            ("r_project", "name", ("project_name",)),
        ):
            names = " UNION ".join(f"SELECT DISTINCT {col} AS n FROM r_ok" for col in cols)
            c.execute(
                f"INSERT INTO {dim} SELECT (SELECT coalesce(max(id), 0) FROM {dim}) "
                f"+ row_number() OVER (ORDER BY new.n), new.n FROM ({names}) AS new "
                f"ANTI JOIN {dim} ON new.n = {dim}.{nk}"
            )
        c.execute(
            "INSERT INTO r_fact SELECT o.key, o.ts, o.value, u1.id, u2.id, p.id "
            "FROM r_ok o JOIN r_user u1 ON u1.username = o.reviewer_name "
            "JOIN r_user u2 ON u2.username = o.reporter_name "
            "JOIN r_project p ON p.name = o.project_name "
            "ANTI JOIN r_fact f ON o.key = f.key"
        )

    def state(self, i: int) -> dict[str, tuple]:
        """Fingerprints of fact / jira_user / project / the star read after
        slice ``i`` (slices must be asked for in non-decreasing order
        within one replay; earlier states are memoized)."""
        if i in self.snapshots:
            return self.snapshots[i]
        if i < self.done:
            raise ValueError("replay runs forward only")
        while self.done < i:
            self.done += 1
            self._apply(self.paths[self.done])
        snap = {
            "fact": query_fingerprint(self.con, "SELECT * FROM r_fact"),
            "jira_user": query_fingerprint(self.con, "SELECT * FROM r_user"),
            "project": query_fingerprint(self.con, "SELECT * FROM r_project"),
            "star": query_fingerprint(self.con, 
                STAR_READ_SQL.format(fact="r_fact", users="r_user", projects="r_project")
            ),
        }
        self.snapshots[i] = snap
        return snap

    def rejected_rows(self, path: str) -> int:
        """Rows of one slice the writer's NOT NULL gate rejects."""
        return self.con.execute(
            "SELECT count(*) FROM (" + WIDE_SQL.format(path=path) + ") "
            "WHERE key IS NULL OR reviewer_name IS NULL OR project_name IS NULL"
        ).fetchone()[0]
