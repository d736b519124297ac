"""Independent expected outputs for the workloads.

DuckDB regenerates each workload's inputs from the SQL twins in
``openmldb_spark.data.lcg`` and computes the expected features itself;
``tests/oracle.py`` brute-forces the kernel-only aggregates on sampled
conversations. Every ``check`` returns the number of wrong rows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def _connect():
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '2GB'")
    return con


def _ctes(n_convs: int, avg_turns: int, seed: int) -> str:
    from openmldb_spark.data.lcg import duckdb_conv_meta_cte, duckdb_transcripts_cte

    return (f"WITH {duckdb_transcripts_cte(n_convs, avg_turns, seed)}, "
            f"{duckdb_conv_meta_cte(n_convs, seed)}")


def ts_ms(df: pd.DataFrame) -> pd.DataFrame:
    return df.assign(ts_ms=df["ts"].astype("datetime64[ms]").astype("int64"))


def _mismatches(exp: pd.DataFrame, got: pd.DataFrame, key: list[str], cols: list[str]) -> int:
    """Rows missing, extra or differing in any of ``cols`` (NULL == NULL)."""
    m = exp.merge(got, on=key, how="outer", suffixes=("_e", "_g"), indicator=True)
    bad = m["_merge"] != "both"
    for c in cols:
        e, g = m[f"{c}_e"], m[f"{c}_g"]
        both_null = e.isna() & g.isna()
        bad |= ~both_null & ~(e.astype(object) == g.astype(object))
    return int(bad.sum())


class BackfillOracle:
    """Expected backfill output for every row, except the kernel-only
    aggregates, which ``tests/oracle.py`` checks on sampled convs."""

    N_SAMPLED = 2

    def __init__(self, n_convs: int, avg_turns: int, seed: int):
        self.con = _connect()
        self.con.execute(f"""
            CREATE TABLE expect AS {_ctes(n_convs, avg_turns, seed)},
            f AS (
              -- NULL joins a distinct_count frame as the type's default value
              SELECT conv_id, turn_idx, role, text, tool, ts_ms,
                count(turn_idx) FILTER (WHERE role = 'tool') OVER w AS n_tool_calls_10,
                count(DISTINCT coalesce(tool, '')) OVER w AS n_distinct_tools_10,
                lag(tool) OVER o AS prev_tool,
                lag(role) OVER o AS prev_role,
                count(*) OVER w AS n_turns_10,
                CASE WHEN lag(ts_ms) OVER o IS NULL
                       OR ts_ms - lag(ts_ms) OVER o > 1800000 THEN 1 ELSE 0 END AS new_sess
              FROM lcg_t
              WINDOW w AS (PARTITION BY conv_id ORDER BY ts_ms, turn_idx
                           ROWS BETWEEN 10 PRECEDING AND CURRENT ROW),
                     o AS (PARTITION BY conv_id ORDER BY ts_ms, turn_idx)),
            s AS (
              SELECT * EXCLUDE (new_sess), sum(new_sess) OVER (
                  PARTITION BY conv_id ORDER BY ts_ms, turn_idx
                  ROWS UNBOUNDED PRECEDING) - 1 AS session_id
              FROM f)
            SELECT s.*, m.model AS m_model, m.channel AS m_channel,
                   m.priority AS m_priority
            FROM s ASOF LEFT JOIN lcg_meta m ON s.conv_id = m.conv_id AND s.ts_ms >= m.ts_ms""")
        self.n_rows = self.con.execute("SELECT count(*) FROM expect").fetchone()[0]
        rng = np.random.default_rng([seed, 3])
        nos = rng.choice(np.arange(1, n_convs), self.N_SAMPLED, replace=False)
        self.sampled = [f"conv_{n:06d}" for n in nos]

    COMPARED = ["role", "text", "tool", "ts_ms", "n_tool_calls_10", "n_distinct_tools_10",
                "prev_tool", "prev_role", "n_turns_10", "session_id",
                "m_model", "m_channel", "m_priority"]

    def check(self, out_dir: str) -> int:
        got = f"(SELECT * REPLACE (epoch_ms(ts) AS ts) FROM read_parquet('{out_dir}/*.parquet'))"
        diff = " OR ".join(f"e.{c} IS DISTINCT FROM g.{'ts' if c == 'ts_ms' else c}"
                           for c in self.COMPARED)
        wrong = self.con.execute(f"""
            SELECT count(*) FROM expect e FULL OUTER JOIN {got} g
              ON e.conv_id = g.conv_id AND e.turn_idx = g.turn_idx
            WHERE e.conv_id IS NULL OR g.conv_id IS NULL OR {diff}""").fetchone()[0]
        return wrong + self._check_kernel_aggs(out_dir)

    def _check_kernel_aggs(self, out_dir: str) -> int:
        from openmldb_spark import Agg, WindowSpec
        from tests.oracle import run_oracle

        ids = ", ".join(f"'{c}'" for c in self.sampled)
        got = self.con.execute(
            f"SELECT conv_id, turn_idx, role, ts, role_entropy_1h, turn_ew_avg_1h "
            f"FROM read_parquet('{out_dir}/*.parquet') WHERE conv_id IN ({ids})").df()
        spec = WindowSpec(["conv_id"], "ts", "rows_range", 3_600_000, tiebreak=["turn_idx"])
        aggs = [Agg("entropy", "role", "e_ent"), Agg("ew_avg", "turn_idx", "e_ew", param=0.5)]
        exp = run_oracle(got, spec, aggs, "ts")
        m = got.merge(exp[["conv_id", "turn_idx", "e_ent", "e_ew"]],
                      on=["conv_id", "turn_idx"], how="outer")
        ok = np.isclose(m["role_entropy_1h"], m["e_ent"], rtol=1e-9, atol=1e-12) \
            & np.isclose(m["turn_ew_avg_1h"], m["e_ew"], rtol=1e-9, atol=1e-12)
        return int((~ok).sum())


class IngestOracle:
    """Expected UNBOUNDED sum/count/max of turn_idx for request rows.
    Every request is later than its conv's stored turns, so its frame is
    itself plus all of them. Inserted batches are added to DuckDB's
    copy of the table."""

    def __init__(self, n_convs: int, avg_turns: int, seed: int):
        self.con = _connect()
        self.con.execute(f"""
            CREATE TABLE hist AS {_ctes(n_convs, avg_turns, seed)}
            SELECT conv_id, turn_idx, ts_ms FROM lcg_t""")

    def last(self) -> pd.DataFrame:
        """Each conv's highest stored turn_idx and ts (ms), by conv_id."""
        return self.con.execute("""
            SELECT conv_id, max(turn_idx) AS turn_idx, max(ts_ms) AS ts_ms
            FROM hist GROUP BY conv_id ORDER BY conv_id""").df().set_index("conv_id")

    def insert(self, batch: pd.DataFrame) -> None:
        self.con.register("batch", ts_ms(batch)[["conv_id", "turn_idx", "ts_ms"]])
        self.con.execute("INSERT INTO hist SELECT * FROM batch")
        self.con.unregister("batch")

    def check(self, req: pd.DataFrame, got: pd.DataFrame) -> int:
        self.con.register("req", req[["conv_id", "turn_idx"]])
        exp = self.con.execute("""
            SELECT r.conv_id, r.turn_idx, coalesce(sum(h.turn_idx), 0) + r.turn_idx AS s,
                   count(h.turn_idx) + 1 AS c, greatest(max(h.turn_idx), r.turn_idx) AS mx
            FROM req r LEFT JOIN hist h ON h.conv_id = r.conv_id
            GROUP BY r.conv_id, r.turn_idx""").df()
        self.con.unregister("req")
        return _mismatches(exp, got, ["conv_id", "turn_idx"], ["s", "c", "mx"])
