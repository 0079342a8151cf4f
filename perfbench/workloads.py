"""The benchmark's workloads: seeded inputs, one timed repetition each,
the pipeline prefixes the trace forces, and the output checks.

Inputs are made with numpy from the seed and written with pyarrow; the
CLI's input is then committed as an IcebergLike table through the
engine's public ``IcebergLikeTable.write``.  Checks read the written parquet with
pyarrow and compare against ``tests/oracle.py`` and a numpy restatement
of the as-of semantics; they never call engine code.
"""

from __future__ import annotations

import os
import re
import sys
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ASOF = "2024-01-20T00:00:00"
ASOF_EPOCH = 1705708800
EPOCH_2024 = 1704067200
WINDOW_S = 30 * 86400
LENGTHS = np.array([64, 96, 128], dtype=np.int32)
N_SOURCES = 20
SAMPLE_ROWS = 24
# the tolerances tests/test_moments.py and tests/test_scores.py hold the
# engine's kernels to against tests/oracle.py
RTOL, ATOL = 1e-9, 1e-12
US = 1_000_000
TS_UTC = pa.timestamp("us", tz="UTC")

FEATURE_SET = "all"
# thornton_oracle_row key -> output column under --feature-set all
# (the stats family owns the plain sn_ratio/peak_offset names there)
THORNTON_COLS = {
    "sin_chi2": "sin_chi2", "sin2_chi2": "sin2_chi2",
    "gauss_chi2": "gauss_chi2", "gauss_amp": "gauss_amp",
    "gauss_fwhm": "gauss_fwhm", "n_peaks": "n_peaks",
    "sn_ratio": "sn_ratio_t", "hist_dist": "hist_dist",
    "peak_offset": "peak_offset_t", "quad_chi2": "quad_chi2",
}


def _oracle():
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from tests import oracle

    return oracle


def noop(df) -> None:
    """Force ``df`` to run, writing nothing."""
    df.write.format("noop").mode("overwrite").save()


def plan_text(df) -> str:
    """The optimized logical plan with expression ids and lambda variable
    numbers blanked, so that two separately built frames of one query
    compare equal."""
    # every field: by default the plan string truncates long field lists
    key, conf = "spark.sql.debug.maxToStringFields", df.sparkSession.conf
    before = conf.get(key, None)
    conf.set(key, str(1 << 20))
    try:
        text = df._jdf.queryExecution().optimizedPlan().toString()
    finally:
        if before is None:
            conf.unset(key)
        else:
            conf.set(key, before)
    return re.sub(r"(lambda \w+?)_\d+", r"\1", re.sub(r"#\d+L?", "#", text))


def _write_files(out_dir: str, table: pa.Table, n_files: int = 4) -> None:
    """A plain parquet table in ``n_files`` files, so the scan runs in parallel."""
    os.makedirs(out_dir)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), os.path.join(out_dir, f"part-{i}.parquet"))


def _read_output(out_dir: str, columns: "list[str]") -> pa.Table:
    return ds.dataset(out_dir, format="parquet", partitioning="hive").to_table(
        columns=columns
    )


def _secs(col: pa.ChunkedArray) -> np.ndarray:
    return col.to_numpy().astype("datetime64[s]").astype(np.int64)


def parquet_bytes(out_dir: str) -> int:
    total = 0
    for dirpath, _dirs, names in os.walk(out_dir):
        total += sum(
            os.path.getsize(os.path.join(dirpath, n))
            for n in names if n.endswith(".parquet")
        )
    return total


class CliWorkload:
    """``jobs/extract_features.main --feature-set all`` over a uniform-key
    sequences table.

    Entities own 1-3 rows of distinct lengths, so each row's prior
    observation (obs_time = event_time - n_tok) is unique and the as-of
    result is deterministic."""

    def __init__(self, name: str, rows: int):
        self.name = name
        self.input_rows = rows

    # ------------------------------------------------------------ inputs
    def generate(self, spark, workdir: str, seed: int) -> None:
        from pyspark.sql import functions as F

        from pulsarfeatureextractor_spark.sinks.manifest import IcebergLikeTable

        rng = np.random.default_rng(seed)
        rows = self.input_rows
        ks = rng.integers(1, 4, size=rows)
        cum = np.cumsum(ks)
        n_docs = int(np.searchsorted(cum, rows)) + 1
        ks = ks[:n_docs]
        ks[-1] -= cum[n_docs - 1] - rows
        perm = np.argsort(rng.random((n_docs, 3)), axis=1)
        lengths = LENGTHS[perm][np.arange(3)[None, :] < ks[:, None]]
        doc_of_row = np.repeat(rng.permutation(n_docs), ks)
        order = rng.permutation(rows)
        lengths, doc_of_row = lengths[order], doc_of_row[order]
        doc_ids = np.array([f"cand_{seed % 100000:05d}_{d:07d}" for d in doc_of_row],
                           dtype=object)
        offsets = np.concatenate([[0], np.cumsum(lengths)]).astype(np.int32)
        flat = rng.integers(0, 256, size=int(offsets[-1]), dtype=np.int32)
        sources = np.array([f"src{s}" for s in rng.integers(0, N_SOURCES, rows)],
                           dtype=object)

        token_type = pa.list_(pa.field("element", pa.int32(), nullable=False))
        raw = os.path.join(workdir, "raw_sequences")
        os.makedirs(raw)
        pq.write_table(pa.table({
            "doc_id": pa.array(doc_ids, pa.string()),
            "tokens": pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat),
                                               type=token_type),
            "n_tok": pa.array(lengths, pa.int32()),
            "source": pa.array(sources, pa.string()),
        }), os.path.join(raw, "part-0.parquet"))
        # one data file per source partition
        self.table_dir = os.path.join(workdir, "sequences")
        IcebergLikeTable(self.table_dir).write(
            spark.read.parquet(raw).repartition("source"), partition_by=["source"])

        # event_time = 2024-01-01 + pmod(xxhash64(doc_id), 30 days): the
        # documented derivation, evaluated here with Spark's builtin hash
        off = (spark.read.parquet(raw)
               .select("doc_id", F.pmod(F.xxhash64("doc_id"), F.lit(WINDOW_S))
                       .alias("off"))
               .distinct().toPandas())
        event = dict(zip(off["doc_id"], EPOCH_2024 + off["off"].astype(np.int64)))
        self.event = np.array([event[d] for d in doc_ids], dtype=np.int64)
        self.doc_ids, self.lengths = doc_ids, lengths
        self.offsets, self.flat = offsets, flat
        self.key_index = {(d, int(n)): i for i, (d, n) in enumerate(zip(doc_ids, lengths))}
        self.expected_rows = int((self.event <= ASOF_EPOCH).sum())

    # ------------------------------------------------------ repetition
    def argv(self, out_dir: str) -> "list[str]":
        return ["--input", self.table_dir, "--output", out_dir, "--asof", ASOF,
                "--feature-set", FEATURE_SET]

    def repetition(self, spark, out_dir: str) -> None:
        import extract_features

        extract_features.main(self.argv(out_dir))

    def _pipeline(self, spark):
        import argparse

        import extract_features

        ns = argparse.Namespace(
            input=self.table_dir, snapshot=None, asof=ASOF,
            feature_set=FEATURE_SET, scores=False, gap_seconds=1800.0,
        )
        return extract_features.build_pipeline(spark, ns)[0]

    def _composed(self, spark):
        """The CLI pipeline's prefixes, composed from the same public
        operators ``build_pipeline`` calls."""
        from pyspark.sql import functions as F

        from pulsarfeatureextractor_spark.functions.featureset import extract_features
        from pulsarfeatureextractor_spark.operators.asof import asof_join
        from pulsarfeatureextractor_spark.operators.sessionize import sessionize
        from pulsarfeatureextractor_spark.operators.windows import lagged

        seqs = self._scan(spark)
        feats = extract_features(seqs, FEATURE_SET)
        snaps = feats.select(
            "doc_id",
            (F.col("event_time") - F.make_interval(secs=F.col("n_tok").cast("double"))
             ).alias("obs_time"),
            F.col("mean").alias("f_mean_obs"),
            F.col("stdev").alias("f_std_obs"),
        )
        joined = asof_join(feats, snaps, on="event_time", right_on="obs_time",
                           by="doc_id", value_cols=["f_mean_obs", "f_std_obs"],
                           strategy="window")
        enriched = lagged(joined, "doc_id", "event_time", ["mean"], offsets=(1,))
        enriched = sessionize(enriched, "doc_id", "event_time", 1800.0)
        return seqs, feats, joined, enriched.drop("tokens")

    def prefixes(self, spark):
        """(layer, [DataFrames]) prefixes of the CLI pipeline; the last is
        ``build_pipeline``'s own output."""
        seqs, feats, joined, _ = self._composed(spark)
        return [("sources", [seqs]), ("functions", [feats]),
                ("operators.asof", [joined]),
                ("operators.windows", [self._pipeline(spark)])]

    def prefixes_match_pipeline(self, spark) -> bool:
        """Whether the composed prefixes still build ``build_pipeline``'s
        plan: a change to the job's operators, strategies or derivations
        shows here, and the composed prefixes must then follow it."""
        return plan_text(self._composed(spark)[-1]) == plan_text(self._pipeline(spark))

    def _scan(self, spark):
        """The source layer: snapshot scan, event time, --asof filter."""
        from pyspark.sql import functions as F

        from pulsarfeatureextractor_spark.sinks.manifest import IcebergLikeTable
        from pulsarfeatureextractor_spark.sources.tokenized import with_event_time

        seqs = with_event_time(IcebergLikeTable(self.table_dir).read(spark))
        return seqs.where(F.col("event_time") <= F.lit(ASOF).cast("timestamp"))

    def choose(self, spark) -> str:
        from pulsarfeatureextractor_spark.operators.asof import choose_asof_strategy

        return choose_asof_strategy(self._scan(spark), ["doc_id"])

    # ----------------------------------------------------------- checks
    def check(self, out_dir: str, rng) -> "list[str]":
        oracle = _oracle()
        cols = ["doc_id", "n_tok", "event_time", "mean", "stdev", "skew", "kurt",
                "f_mean_obs", "f_std_obs", "session_id", *THORNTON_COLS.values()]
        table = _read_output(out_dir, cols)
        out = table.to_pandas()
        problems = []
        if len(out) != self.expected_rows:
            problems.append(f"rows {len(out)} != {self.expected_rows} after --asof")
        et = _secs(table["event_time"])
        if (et > ASOF_EPOCH).any():
            problems.append("leakage: event_time after --asof")
        idx = np.array([self.key_index.get((d, int(n)), -1)
                        for d, n in zip(out["doc_id"], out["n_tok"])])
        if (idx < 0).any() or len(np.unique(idx)) != len(idx):
            return problems + ["output rows do not map one-to-one onto input rows"]
        if (et != self.event[idx]).any():
            problems.append("event_time differs from its documented derivation")

        # as-of, every row: the attached observation is the entity's row
        # with the greatest obs_time = event_time - n_tok <= event_time,
        # i.e. its shortest row; a later observation would be leakage
        first = out.loc[out.groupby("doc_id")["n_tok"].idxmin(), ["doc_id", "mean", "stdev"]]
        want = out[["doc_id"]].merge(first, on="doc_id", how="left")
        if not (np.array_equal(out["f_mean_obs"].to_numpy(), want["mean"].to_numpy())
                and np.array_equal(out["f_std_obs"].to_numpy(), want["stdev"].to_numpy())):
            problems.append("as-of attached a wrong or later observation")

        for r in rng.choice(len(out), size=min(SAMPLE_ROWS, len(out)), replace=False):
            i = idx[r]
            x = self.flat[self.offsets[i]:self.offsets[i + 1]]
            got = [out[c].iat[r] for c in ("mean", "stdev", "skew", "kurt")]
            if not np.allclose(got, oracle.lyon_moments_oracle(x), rtol=RTOL, atol=ATOL):
                problems.append(f"lyon moments differ from oracle for {self.doc_ids[i]}")
            want_t = oracle.thornton_oracle_row(x)
            if not all(np.isclose(out[c].iat[r], want_t[k], rtol=RTOL, atol=ATOL)
                       for k, c in THORNTON_COLS.items()):
                problems.append(f"thornton scores differ from oracle for {self.doc_ids[i]}")
            doc = out["doc_id"].iat[r]
            mine = np.flatnonzero(self.doc_ids == doc)
            right = [(doc, int(self.event[j] - self.lengths[j]),
                      oracle.lyon_moments_oracle(self.flat[self.offsets[j]:self.offsets[j + 1]])[0])
                     for j in mine]
            if oracle.asof_oracle([(doc, int(self.event[i]))], right) != [out["f_mean_obs"].iat[r]]:
                problems.append(f"as-of differs from asof_oracle for {doc}")
            rows = (out["doc_id"] == doc).to_numpy()
            sessions = oracle.sessionize_oracle(
                [datetime.fromtimestamp(t, timezone.utc) for t in sorted(et[rows])], 1800.0)
            if sorted(out["session_id"][rows]) != sessions:
                problems.append(f"session ids differ from oracle for {doc}")
        return sorted(set(problems))


class AsofWorkload:
    """``operators.asof.asof_join`` (default strategy) from a left parquet
    table onto a separate snapshot table, one entity owning half of each side,
    written through ``sinks.partitioned.run_partitioned_job``."""

    hot_share = 0.5

    def __init__(self, name: str, rows: int):
        self.name = name
        self.input_rows = rows

    def generate(self, spark, workdir: str, seed: int) -> None:
        rng = np.random.default_rng(seed)
        n_left, n_right = self.input_rows, self.input_rows // 2
        n_cold = max(n_left // 20, 4)

        def entities(n):
            codes = rng.integers(1, n_cold + 1, size=n)
            return np.where(rng.random(n) < self.hot_share, 0, codes)

        self.l_ent = entities(n_left)
        self.l_ts = EPOCH_2024 + rng.integers(0, WINDOW_S, size=n_left)
        self.r_ent = entities(n_right)
        # distinct observation times: the as-of match is unique
        self.r_ts = EPOCH_2024 + rng.choice(WINDOW_S, size=n_right, replace=False)
        self.r_v1 = rng.normal(100.0, 10.0, size=n_right)
        names = np.array(["ent_hot"] + [f"ent_{c:06d}" for c in range(1, n_cold + 1)],
                         dtype=object)
        self.left_dir = os.path.join(workdir, "left")
        self.right_dir = os.path.join(workdir, "right")
        _write_files(self.left_dir, pa.table({
            "lid": pa.array(np.arange(n_left), pa.int64()),
            "entity": pa.array(names[self.l_ent], pa.string()),
            "ts": pa.array(self.l_ts * US, TS_UTC),
            "region": pa.array([f"r{v}" for v in rng.integers(0, 8, n_left)], pa.string()),
        }))
        _write_files(self.right_dir, pa.table({
            "entity": pa.array(names[self.r_ent], pa.string()),
            "obs_time": pa.array(self.r_ts * US, TS_UTC),
            "r_time": pa.array(self.r_ts * US, TS_UTC),
            "v1": pa.array(self.r_v1, pa.float64()),
            "v2": pa.array(rng.uniform(0.0, 1.0, size=n_right), pa.float64()),
        }))
        self.names = names

        # numpy as-of oracle over every left row
        r_order = np.lexsort((self.r_ts, self.r_ent))
        r_key = self.r_ent[r_order] * (1 << 32) + self.r_ts[r_order]
        pos = np.searchsorted(r_key, self.l_ent * (1 << 32) + self.l_ts, side="right") - 1
        hit = (pos >= 0) & (self.r_ent[r_order][np.maximum(pos, 0)] == self.l_ent)
        self.want_v1 = np.where(hit, self.r_v1[r_order][np.maximum(pos, 0)], np.nan)

    def _sides(self, spark):
        return spark.read.parquet(self.left_dir), spark.read.parquet(self.right_dir)

    def _joined(self, spark):
        from pulsarfeatureextractor_spark.operators.asof import asof_join

        left, right = self._sides(spark)
        return asof_join(left, right, on="ts", right_on="obs_time", by="entity",
                         value_cols=["r_time", "v1", "v2"])

    def repetition(self, spark, out_dir: str) -> None:
        from pulsarfeatureextractor_spark.sinks.partitioned import run_partitioned_job

        run_partitioned_job(self._joined(spark), out_dir, ["region"])

    def prefixes_match_pipeline(self, spark) -> bool:
        return True  # the last prefix is the repetition's own frame

    def prefixes(self, spark):
        return [("sources", list(self._sides(spark))),
                ("operators.asof", [self._joined(spark)])]

    def choose(self, spark) -> str:
        from pulsarfeatureextractor_spark.operators.asof import choose_asof_strategy

        return choose_asof_strategy(self._sides(spark)[0], ["entity"])

    def check(self, out_dir: str, rng) -> "list[str]":
        oracle = _oracle()
        out = _read_output(out_dir, ["lid", "ts", "r_time", "v1"])
        problems = []
        if out.num_rows != self.input_rows:
            return [f"rows {out.num_rows} != {self.input_rows} left rows"]
        lid = out["lid"].to_numpy()
        order = np.argsort(lid)
        if not np.array_equal(lid[order], np.arange(self.input_rows)):
            return ["output rows do not map one-to-one onto left rows"]
        v1 = out["v1"].to_numpy(zero_copy_only=False)[order]
        r_time = out["r_time"].to_numpy(zero_copy_only=False)[order]
        matched = ~np.isnat(r_time)
        ts = self.l_ts
        if (r_time[matched].astype("datetime64[s]").astype(np.int64) > ts[matched]).any():
            problems.append("leakage: attached observation later than its row")
        if not np.array_equal(v1, self.want_v1, equal_nan=True):
            problems.append("as-of values differ from the numpy oracle")
        for ent in rng.choice(np.arange(1, len(self.names)), size=4, replace=False):
            rows = np.flatnonzero(self.l_ent == ent)
            rr = np.flatnonzero(self.r_ent == ent)
            right = [(ent, int(self.r_ts[j]), float(self.r_v1[j])) for j in rr]
            want = oracle.asof_oracle([(ent, int(ts[i])) for i in rows], right)
            got = [None if np.isnan(v1[i]) else float(v1[i]) for i in rows]
            if got != want:
                problems.append(f"as-of differs from asof_oracle for {self.names[ent]}")
        return problems


def make(name: str, rows: "int | None") -> "CliWorkload | AsofWorkload":
    if name == "cli_scores":
        return CliWorkload(name, rows or 12000)
    if name == "asof_hotkey":
        return AsofWorkload(name, rows or 500000)
    raise SystemExit(f"unknown workload {name!r}; one of cli_scores, asof_hotkey")
