"""DuckDB oracle for the ``log_queries`` mix, and the row hash both sides use.

The oracle parses the raw access log on its own (DuckDB ``read_text`` plus
RE2 regexes, no Spark code) and answers each query of the mix. It runs
once per seed, in a child process of the input generator (``gen.py``),
and its answers are cached next to the seed's inputs. The engine's
SQL-replay helpers (``*_sql_duck``) supply the operator semantics, as in
the repository's own query oracles.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import sys

from drill_logfile_plugin_spark.operators.anomaly import spike_sql_duck
from drill_logfile_plugin_spark.operators.rolling import rolling_exact_sql_duck
from drill_logfile_plugin_spark.operators.templates import (
    n_params_sql_duck,
    template_masks_sql_duck,
)
from drill_logfile_plugin_spark.sources.formats import APACHE_COMBINED

#: Trailing window of the rolling-distinct query, in hours.
ROLLING_TRAILING = 12


def _norm(v):
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, decimal.Decimal):
        return round(float(v), 6)
    if isinstance(v, (dt.datetime, dt.date, dt.time)):
        return v.isoformat()
    return v


def row_hash(rows) -> str:
    """Order-insensitive hash of result rows (tuples of plain values)."""
    canon = sorted(json.dumps([_norm(v) for v in r]) for r in rows)
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()


def _parsed_sql(path: str) -> str:
    p = APACHE_COMBINED.pattern.replace("'", "''")

    def g(i: int) -> str:
        return f"regexp_extract(line, '{p}', {i})"

    return f"""
      SELECT {g(1)} AS ip, {g(4)} AS method, {g(5)} AS path,
             CAST({g(6)} AS INT) AS status,
             TRY_CAST({g(7)} AS INT) AS nbytes,
             strptime({g(3)}, '%d/%b/%Y:%H:%M:%S') AS ts
      FROM (
        SELECT regexp_replace(unnest(string_split(content, chr(10))),
                              '^[\\x00-\\x20]+|[\\x00-\\x20]+$', '', 'g')
                 AS line
        FROM read_text('{path}')
      )
      WHERE length(line) > 0 AND regexp_matches(line, '{p}')
    """


def oracle_sql(path: str) -> dict[str, str]:
    src = _parsed_sql(path)
    return {
        "sql": f"""
          SELECT method, status // 100 AS status_class,
                 COUNT(*) AS n, CAST(SUM(nbytes) AS BIGINT) AS total_bytes,
                 COUNT(DISTINCT ip) AS n_ips, MIN(ts) AS first_ts,
                 MAX(ts) AS last_ts
          FROM ({src}) GROUP BY ALL""",
        "templates": f"""
          SELECT template, COUNT(*) AS n_lines,
                 {n_params_sql_duck('template')} AS n_params,
                 MIN(ex) AS example
          FROM (SELECT {template_masks_sql_duck('path')} AS template,
                       substr(path, 1, 256) AS ex FROM ({src}))
          GROUP BY template""",
        "spike": spike_sql_duck(src, ts_col="ts", group_col="method"),
        "rolling": rolling_exact_sql_duck(
            src, ts_col="ts", key_col="ip", group_col="method",
            trailing=ROLLING_TRAILING,
        ),
    }


def oracle_answers(raw_log: str) -> dict:
    """Per-query oracle answer: a row hash, plus the exact rows for the
    rolling query (whose engine lane is a sketch, checked within its
    tolerance)."""
    import duckdb

    con = duckdb.connect()
    out = {}
    for name, sql in oracle_sql(raw_log).items():
        rows = con.execute(sql).fetchall()
        out[name] = {"hash": row_hash(rows), "rows": len(rows)}
        if name == "rolling":
            out[name]["exact"] = [[_norm(v) for v in r] for r in rows]
    con.close()
    return out


if __name__ == "__main__":
    # python3 perfbench/oracle.py <raw access log> <answers.json>
    raw, dest = sys.argv[1:3]
    with open(dest, "w") as f:
        json.dump(oracle_answers(raw), f)
