"""Output checks, run after the timed window.

Query results are compared with the query's DuckDB oracle over the same
generated parquet, with the canonicalisation of the engine's oracle test
(columns sorted by name, doubles rounded to 6 places, timestamps rendered
as UTC strings, rows sorted). Queries without an oracle are checked for a
non-empty result whose schema and rows repeat exactly across passes.

The ETL target is compared with a pure-Python last-write-wins replay of
the generated batches.
"""

from __future__ import annotations

import duckdb
import pandas as pd


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            df[c] = s.round(6)
        elif pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.dt.strftime("%Y-%m-%d %H:%M:%S")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("Int64")
        elif s.dtype == object:
            df[c] = s.map(lambda v: None if v is None else v)
    return df.sort_values(by=list(df.columns), na_position="last").reset_index(drop=True)


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``got`` matches ``want`` under the oracle canonicalisation,
    else a one-line reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    g, w = canon(got), canon(want)
    for c in g.columns:
        gv, wv = g[c], w[c]
        if pd.api.types.is_float_dtype(gv) and pd.api.types.is_float_dtype(wv):
            bad = ~((gv.isna() & wv.isna())
                    | (gv.notna() & wv.notna() & ((gv - wv).abs() <= 1e-6 + 1e-9 * wv.abs())))
        else:
            bad = ~((gv.isna() & wv.isna()) | (gv.astype(str) == wv.astype(str)))
        if bad.any():
            i = int(bad.idxmax())
            return f"column {c!r} row {i}: {gv[i]!r} != {wv[i]!r} ({int(bad.sum())} rows differ)"
    return None


class Oracle:
    """DuckDB views over the generated tables; one oracle result per query."""

    def __init__(self, data_dir: str, tables: tuple[str, ...]):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in tables:
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")

    def result(self, sql: str) -> pd.DataFrame:
        return self.con.sql(sql).df()

    def close(self) -> None:
        self.con.close()


def check_queries(results: dict[str, list], oracle_sql: dict[str, str], oracle: Oracle,
                  perturb: str | None = None) -> dict[str, str]:
    """Check every recorded result. ``results[name]`` holds one entry per
    operation: a DataFrame, or the exception text when it raised. Returns
    {op label: reason} for every failed operation. ``perturb`` names a
    query whose expected result is deliberately altered (self-test of the
    checker)."""
    failures: dict[str, str] = {}
    for name, outs in results.items():
        if name in oracle_sql:
            want = oracle.result(oracle_sql[name])
        else:
            want = next((o for o in outs if isinstance(o, pd.DataFrame)), None)
            if want is not None and len(want) == 0:
                for i, _ in enumerate(outs):
                    failures[f"{name}#{i}"] = "no-oracle query returned no rows"
                continue
        if name == perturb and want is not None:
            want = _perturbed(want)
        for i, got in enumerate(outs):
            if not isinstance(got, pd.DataFrame):
                failures[f"{name}#{i}"] = f"raised: {got}"
                continue
            why = mismatch(got, want) if want is not None else "no reference result"
            if why is None and name not in oracle_sql and list(got.dtypes) != list(want.dtypes):
                why = "schema differs between passes"
            if why is not None:
                failures[f"{name}#{i}"] = why
    return failures


def _perturbed(df: pd.DataFrame) -> pd.DataFrame:
    if len(df) == 0:
        return pd.concat([df, df.head(1)], ignore_index=True)
    df = df.copy()
    col = df.columns[0]
    if pd.api.types.is_numeric_dtype(df[col]):
        df.loc[df.index[0], col] = df[col].iloc[0] + 1
    else:
        df.loc[df.index[0], col] = f"{df[col].iloc[0]}-perturbed"
    return df


# --------------------------------------------------------------------------
# ETL: last-write-wins replay
# --------------------------------------------------------------------------


def replay(batches: list[tuple[str, list]]) -> list[tuple[dict, list, dict]]:
    """Replay ``[(ingestion ts, items)]`` in order. For each batch, returns
    the state after it: the keyed rows {pulse_id: (ingestion ts, modified,
    name)}, the keyless rows, and the counts run_batch must report.

    A key's winner is the latest batch that carries it; within a batch, the
    greatest ``pulse_modified``, then the later source position. Rows with
    a NULL or empty key are all kept (the insert fallback)."""
    keyed: dict = {}
    keyless: list = []
    states = []
    for ts, items in batches:
        valid = 0
        best: dict = {}
        for pos, item in enumerate(items):
            # R7 rejects only a NULL record, and the source never yields one:
            # a JSON null item parses to a record whose fields are all NULL,
            # which is valid and keyless
            valid += 1
            item = item or {}
            info = item.get("pulse_info") or {}
            pid = info.get("id") or item.get("id") or None
            row = (ts, info.get("modified"), info.get("name"))
            if pid is None:
                keyless.append(row)
                continue
            rank = (info.get("modified") or "", pos)
            if pid not in best or rank > best[pid][0]:
                best[pid] = (rank, row)
        for pid, (_, row) in best.items():
            keyed[pid] = row
        counts = {"records_seen": len(items), "records_upserted": valid,
                  "records_skipped_invalid": len(items) - valid}
        states.append((dict(keyed), list(keyless), counts))
    return states


def check_target(target: pd.DataFrame, keyed: dict, keyless: list) -> str | None:
    """Compare the upsert target (columns pulse_id, ingestion_timestamp,
    pulse_modified, pulse_name) with the replay."""
    ts = target["ingestion_timestamp"].dt.strftime("%Y-%m-%d %H:%M:%S.%f")
    rows = list(zip(target["pulse_id"], ts, target["pulse_modified"], target["pulse_name"]))
    got_keyed = {}
    got_keyless = []
    for pid, t, mod, name in rows:
        if pid is None or (isinstance(pid, float) and pd.isna(pid)):
            got_keyless.append((t, mod, name))
        elif pid in got_keyed:
            return f"key {pid!r} appears twice in the target"
        else:
            got_keyed[pid] = (t, mod, name)
    if got_keyed.keys() != keyed.keys():
        extra = sorted(set(got_keyed) - set(keyed))[:3]
        missing = sorted(set(keyed) - set(got_keyed))[:3]
        return f"keys differ: extra {extra}, missing {missing}"
    for pid, row in keyed.items():
        if got_keyed[pid] != row:
            return f"key {pid!r}: target {got_keyed[pid]} != replay {row}"
    if sorted(got_keyless, key=repr) != sorted(keyless, key=repr):
        return f"keyless rows: {len(got_keyless)} in target, {len(keyless)} replayed"
    return None
