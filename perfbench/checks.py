"""Output checks, run outside every timed window.

Registry ops are compared with their DuckDB oracle through the engine's
own comparator (``tools/oracle_check.compare``, ``normalize`` and the
temporal projections). The expected rows come from DuckDB over the generated
tables and are cached per (oracle SQL, data fingerprint), never from
the engine's output.

The ingest workload is checked against :class:`SurveyModel`, a pandas
replay of the landed CSV files.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import time
from types import SimpleNamespace

import pandas as pd

import oracle_check as oc


class _Collected:
    """Rows already collected, posing as the DataFrame and the DuckDB
    connection ``oracle_check.compare`` takes. ``compare`` would re-run
    the op's DataFrame and the oracle SQL; handing it the rows instead
    keeps both runs out of the check, and keeps its verdict rules the
    only ones. Temporal columns were projected to strings before
    collection, so none is left to project."""

    def __init__(self, pdf: pd.DataFrame):
        self.pdf = pdf
        self.schema = SimpleNamespace(fields=[])
        self.columns = list(pdf.columns)
        self.types = ["VARCHAR"] * len(self.columns)

    def toPandas(self) -> pd.DataFrame:  # noqa: N802 - the DataFrame API
        return self.pdf

    df = toPandas

    def sql(self, _query: str) -> "_Collected":
        return self


def frames_match(actual: pd.DataFrame, expected: pd.DataFrame) -> str:
    """``oracle_check.compare``'s verdict on two collected frames: "OK
    ..." or the first difference."""
    return oc.compare("", _Collected(actual), "collected", _Collected(expected))


class OracleChecker:
    """Checks registry-op outputs against cached DuckDB oracle results."""

    def __init__(self, data_dir: str, cache_dir: str, data_fingerprint: str):
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        self.data_fingerprint = data_fingerprint
        self._con = None
        self._expected: dict[str, pd.DataFrame] = {}
        self.build_s = 0.0      # time spent computing uncached oracle results

    def _connect(self):
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            for t in oc.TABLES:
                self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                  f"'{os.path.join(self.data_dir, t)}.parquet'")
        return self._con

    def expected(self, key: str, oracle: str) -> pd.DataFrame:
        if key in self._expected:
            return self._expected[key]
        import duckdb

        tag = hashlib.sha256(f"{oracle}\0{self.data_fingerprint}\0"
                             f"{duckdb.__version__}".encode()).hexdigest()[:16]
        path = os.path.join(self.cache_dir, f"oracle-{key}-{tag}.json")
        if os.path.exists(path):
            with open(path) as fh:
                blob = json.load(fh)
            exp = pd.DataFrame(blob["rows"], columns=blob["columns"], dtype=object)
        else:
            t0 = time.perf_counter()
            rel = oc.duck_temporal_safe(self._connect().sql(oracle))
            exp = oc.normalize(rel.df())
            os.makedirs(self.cache_dir, exist_ok=True)
            tmp = f"{path}.tmp{os.getpid()}"
            with open(tmp, "w") as fh:
                json.dump({"columns": list(exp.columns),
                           "rows": exp.values.tolist()}, fh)
            os.replace(tmp, path)
            self.build_s += time.perf_counter() - t0
        self._expected[key] = exp
        return exp

    def check(self, key: str, oracle: str, pdf: pd.DataFrame) -> str:
        return frames_match(oc.normalize(pdf), self.expected(key, oracle))

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


SURVEY_COLS = ["id", "customer_type", "travel_type", "departure_delay",
               "baggage_handling", "satisfaction"]
SURVEY_DTYPES = {"id": "int64", "departure_delay": "int64",
                 "baggage_handling": "int64", "customer_type": str,
                 "travel_type": str, "satisfaction": str}


def dedup_survey(df: pd.DataFrame) -> pd.DataFrame:
    """One row per id: the greatest row by (id, other columns) — the
    pandas twin of the benchmark's ``max(struct(...))`` dedup."""
    return (df.sort_values(SURVEY_COLS, kind="mergesort")
            .drop_duplicates("id", keep="last"))


def read_landed(csv_dir: str) -> pd.DataFrame:
    files = sorted(glob.glob(os.path.join(csv_dir, "*.csv")))
    return pd.concat([pd.read_csv(f, dtype=SURVEY_DTYPES) for f in files],
                     ignore_index=True)[SURVEY_COLS]


class SurveyModel:
    """Expected table state after each merge, replayed from the CSVs."""

    def __init__(self, base_csv_dir: str):
        self.state = dedup_survey(read_landed(base_csv_dir)).set_index("id")

    def merge(self, batch_csv_dir: str) -> int:
        """Apply one landed batch (updates win); returns its row count."""
        raw = read_landed(batch_csv_dir)
        upd = dedup_survey(raw).set_index("id")
        self.state = pd.concat([self.state.drop(upd.index, errors="ignore"), upd])
        return len(raw)

    def range_rows(self, lo: int, hi: int) -> pd.DataFrame:
        s = self.state
        return s[(s.index >= lo) & (s.index <= hi)].reset_index()[SURVEY_COLS]

    def groups(self) -> pd.DataFrame:
        return (self.state.groupby(["satisfaction", "travel_type"])
                .agg(n=("customer_type", "size"),
                     delay_sum=("departure_delay", "sum"))
                .reset_index())


def check_ingest(model: SurveyModel, lo: int, hi: int, scan_pdf: pd.DataFrame,
                 groups_pdf: pd.DataFrame, verify: dict, ledger_applied: int,
                 batches: int, ticks: int) -> str:
    """All ingest checks for one tick; "OK ..." or the first failure."""
    if not verify.get("ok"):
        return f"VERIFY_FAILED {verify}"
    if not ledger_applied == batches == ticks:
        return (f"LEDGER_MISMATCH applied={ledger_applied} batches={batches} "
                f"ticks={ticks}")
    rows = int(groups_pdf["n"].sum())
    if rows != len(model.state):
        return f"ROWCOUNT_MISMATCH table={rows} distinct_ids={len(model.state)}"
    for name, got, want in (("range", scan_pdf, model.range_rows(lo, hi)),
                            ("groups", groups_pdf, model.groups())):
        verdict = frames_match(oc.normalize(got), oc.normalize(want))
        if not verdict.startswith("OK"):
            return f"{name}: {verdict}"
    return f"OK rows={rows}"
