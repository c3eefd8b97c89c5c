"""The benchmark's workloads. Each one makes its inputs from the seed
(prepare, without Spark), binds them to a session (bind), runs one op
(one call into a public entry point of the engine), checks
the op's output against an oracle that never runs the engine's operators
(the generator's modulo rules, or pandas on the generated frame), and,
in the traced run, calls each layer's public functions on the same inputs
one after another inside spans.

Why these workloads:
- validate_incremental: the validation pipeline as it runs on a growing
  table. Each op is a resumed run over two new small partitions, with
  payload decode, constraints, drift against the stored baseline, the
  id-index append, the index-backed global uniqueness check and the
  manifest commit, from a stored state a separate process built. Its payloads are small, so it is bound by per-job
  fixed cost, where job-count and leg-orchestration changes show.
- profile_table: the reference's report flow (type inference, exact
  profile, top-k, histograms, correlation, HTML), which the validation
  pipeline never calls, so it moves only with those operators.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import pyarrow.dataset as ds

import fixtures


def _read_table(path: str) -> list[dict]:
    """Rows of a parquet result directory, hive partition columns as strings."""
    return ds.dataset(path, format="parquet", partitioning="hive").to_table().to_pylist()


def _dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under path, hidden and marker files excluded."""
    n = size = 0
    for root, _, names in os.walk(path):
        for name in names:
            if not name.startswith(("_", ".")) and not name.endswith(".crc"):
                n += 1
                size += os.path.getsize(os.path.join(root, name))
    return n, size


def _expected_results(gt: dict, p: int) -> dict:
    """(constraint, kind) -> violation count of partition p under the
    generator's modulo rules (sources.images.ground_truth)."""
    g = gt[p]
    return {
        ("caption_not_null", "not_null"): g["caption_violations"],
        ("w_domain", "domain"): g["w_domain_violations"],
        ("h_domain", "domain"): 0,
        ("fmt_known", "domain"): g["fmt_violations"],
        # every partition's row 0 shares one id across partitions
        ("image_id_unique", "unique"): 2 * g["dup_id_pairs"] + 1,
        ("phash_ref", "referential"): g["orphan_phash"],
        ("payload_decodes", "image"): g["corrupt_payloads"] + g["fmt_violations"]
        + g["w_domain_violations"] + g["dim_mismatch"],
        ("dims_match_payload", "image"): 0,
        ("fmt_known", "image"): g["fmt_violations"],
    }


@dataclass
class ValidateIncremental:
    """A resumed run_pipeline with the id index and the global check.
    The table has `parts` partitions and the first `parts - new` of them
    are already done; the op validates the new ones.

    The done partitions are the same for every seed (fixtures.HISTORY_SEED)
    and so is the state a run over them leaves: the output directory,
    built once per engine source in a separate process (run.py --prepare)
    and cached, so that the op is the first pipeline run of a fresh
    session in every run. The seed makes the new partitions. Before each
    op the output directory is restored from the cache and the index
    table is registered again over it."""

    seed: int
    parts: int = 8
    new: int = 2
    rows: int = 500
    dims: tuple[int, ...] = (16, 32, 64)
    name = "validate_incremental"
    index = "bench_id_index"

    def prepare(self, nproc: int) -> None:
        history = self.parts - self.new
        self.table = fixtures.images(self.seed, self.parts, self.rows, self.dims, history)
        shared = fixtures.images(fixtures.HISTORY_SEED, self.parts, self.rows, self.dims, history)
        self.before = fixtures.image_subset(shared, list(range(history)))
        self.out = os.path.join(fixtures.WORK, "out", self.name)
        self.pending = list(range(history, self.parts))
        self.rows_per_op = self.new * self.rows
        self.input_bytes = sum(_dir_stats(f"{self.table}/part_id={p}")[1] for p in self.pending)
        self.state_key = fixtures.cache_key(
            "state", [], before=self.before, out=self.out, nproc=nproc,
            engine=fixtures.engine_hash(),
        )
        self.state = os.path.join(fixtures.WORK, "fixtures", self.state_key, "out")

    def has_state(self) -> bool:
        return fixtures.is_cached(self.state_key)

    def _cfg(self):
        from advanced_data_profile_spark.plans.pipeline import PipelineConfig

        return PipelineConfig(id_index_table=self.index, global_unique=True)

    def build_state(self, spark) -> None:
        """Validates the older partitions: the state every op starts from."""
        from advanced_data_profile_spark.plans.pipeline import run_pipeline

        def build(tmp: str) -> None:
            spark.sql(f"DROP TABLE IF EXISTS {self.index}")
            shutil.rmtree(self.out, ignore_errors=True)
            s = run_pipeline(spark, self.before, self.out, cfg=self._cfg())
            if s.get("partitions") != self.parts - self.new:
                raise RuntimeError(f"pre-state run validated {s.get('partitions')} partitions")
            shutil.copytree(self.out, os.path.join(tmp, "out"))

        fixtures.cached(self.state_key, build)

    def bind(self, spark) -> None:
        pass

    def reset(self, spark) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        shutil.copytree(self.state, self.out)
        # the session's catalog does not outlive it: register the index
        # table over the restored files, bucketed as index_append made it
        location = f"{self.out}/id_index"
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in spark.read.parquet(location).schema
        )
        spark.sql(f"DROP TABLE IF EXISTS {self.index}")
        spark.sql(
            f"CREATE TABLE {self.index} ({cols}) USING parquet CLUSTERED BY (key) SORTED BY (key) "
            f"INTO {self._cfg().id_index_buckets} BUCKETS LOCATION '{location}'"
        )

    def op(self, spark) -> dict:
        from advanced_data_profile_spark.plans.pipeline import run_pipeline

        return run_pipeline(spark, self.table, self.out, cfg=self._cfg())

    def check(self, spark, summary: dict) -> list[str]:
        """Compares the run with the generator's modulo rules."""
        from advanced_data_profile_spark.sources.images import DRIFT_PARTS, ground_truth

        errs = []
        if summary.get("partitions") != self.new or summary.get("rows") != self.rows_per_op:
            errs.append(f"summary {summary.get('partitions')} parts {summary.get('rows')} rows")
        gt = ground_truth(self.parts, self.rows)
        got = {
            (int(r["part_id"]), r["constraint"], r["kind"]): r["n_violations"]
            for r in _read_table(f"{self.out}/constraint_results")
        }
        for p in self.pending:
            for (name, kind), want in _expected_results(gt, p).items():
                if got.get((p, name, kind)) != want:
                    errs.append(f"part {p} {name}/{kind}: {got.get((p, name, kind))} != {want}")
        drift = {
            (int(r["part_id"]), r["constraint"]): r["passed"]
            for r in _read_table(f"{self.out}/drift_results")
        }
        cat = {
            int(r["part_id"]): r["passed"]
            for r in _read_table(f"{self.out}/drift_results_categorical")
        }
        for p in self.pending:
            drifted = p >= self.parts - DRIFT_PARTS
            for col in ("w", "h", "caption_len"):
                if drift.get((p, f"drift_{col}")) is not (not drifted):
                    errs.append(f"part {p} drift_{col}: {drift.get((p, f'drift_{col}'))}")
            # fmt alternates by row parity in every partition: never drifts
            if cat.get(p) is not True:
                errs.append(f"part {p} drift_cat_fmt: {cat.get(p)}")
        g = summary.get("global_uniqueness") or {}
        want = sum(2 * gt[p]["dup_id_pairs"] + 1 for p in range(self.parts))
        if g.get("n_violations") != want or g.get("passed") is not False:
            errs.append(f"global uniqueness {g.get('n_violations')} != {want}")
        if g.get("failed_partitions") != sorted(str(p) for p in range(self.parts)):
            errs.append(f"global failed partitions {g.get('failed_partitions')}")
        done = {
            r["part_id"] for r in _read_table(f"{self.out}/manifest")
            if r["status"] == "done" and r["part_id"] != "__global__"
        }
        if done != {str(p) for p in range(self.parts)}:
            errs.append(f"manifest done parts {sorted(done)}")
        return errs

    def trace_layers(self, spark, tr, out) -> None:
        """Each layer's public functions, called one after another on the
        op's inputs, each inside its own span."""
        from pyspark.sql import functions as F

        from advanced_data_profile_spark.operators import constraints as C
        from advanced_data_profile_spark.operators.drift import (
            categorical_counts,
            categorical_psi_chi2,
            histogram,
            ks_psi,
            shared_bins,
        )
        from advanced_data_profile_spark.operators.image_verify import (
            validate_payloads_files,
            validation_verdicts,
        )
        from advanced_data_profile_spark.operators.stats import profile
        from advanced_data_profile_spark.plans.id_index import (
            global_uniqueness_from_index,
            index_append,
        )
        from advanced_data_profile_spark.plans.manifest import Manifest, new_run_id
        from advanced_data_profile_spark.plans.pipeline import PipelineConfig, image_checks
        from advanced_data_profile_spark.sources.images import phash_reference, read_images

        images = read_images(spark, self.table)
        df = images.where(F.col("part_id").isin(self.pending))
        meta = df.withColumn("caption_len", F.length("caption"))
        with tr.span("sources.images.meta_scan"):
            meta.drop("bytes").write.format("noop").mode("overwrite").save()
        with tr.span("operators.image_verify.decode", payload_bytes=self.input_bytes):
            validation_verdicts(validate_payloads_files(spark, self.table, self.pending)).collect()
        with tr.span("operators.stats.profile_approx"):
            profile(meta.drop("bytes"), group_by="part_id", approx=True).collect()
        checks = image_checks(phash_reference(images), PipelineConfig())
        with tr.span("operators.constraints.evaluate"):
            res, vio = C.evaluate(df, checks, part_col="part_id", sample_violations=20)
            res.collect()
            vio.count()
        rowwise = [c for c in checks if c.kind in ("not_null", "domain")]
        with tr.span("operators.constraints.rowwise_samples"):
            C.rowwise_violation_samples(meta, rowwise, "part_id", 20).count()
        # the new partitions against the baseline partition 0
        with_base = images.where(F.col("part_id").isin([0, *self.pending])).withColumn(
            "caption_len", F.length("caption")
        )
        cols = ["w", "h", "caption_len"]
        with tr.span("operators.drift.histogram"):
            hist = histogram(with_base, cols, "part_id", shared_bins(with_base, cols)).persist()
            hist.count()
        with tr.span("operators.drift.score"):
            ks_psi(hist, 0).collect()
        hist.unpersist()
        with tr.span("operators.drift.categorical"):
            categorical_psi_chi2(categorical_counts(with_base, ["fmt"], "part_id"), 0).collect()
        with tr.span("plans.manifest.done_parts"):
            Manifest(spark, f"{self.out}/manifest").done_parts().collect()
        scratch = os.path.join(fixtures.WORK, "trace_manifest")
        shutil.rmtree(scratch, ignore_errors=True)
        with tr.span("plans.manifest.record"):
            Manifest(spark, scratch).record_many([
                {"run_id": new_run_id(), "part_id": str(p), "status": "done", "n_rows": self.rows}
                for p in self.pending
            ])
        location = f"{self.out}/id_index"
        # a replayed append of the new partitions; the next reset
        # restores the index
        with tr.span("plans.id_index.append"):
            index_append(df.select("image_id", "part_id"), self.index, location)
        with tr.span("plans.id_index.global_check", files=_dir_stats(location)[0]):
            global_uniqueness_from_index(spark, self.index, self.out)


@dataclass
class ProfileTable:
    """profile_table_report (type inference included) then render_html
    over the seeded profiler_parity table."""

    seed: int
    rows: int = 500
    name = "profile_table"

    def prepare(self, nproc: int) -> None:
        self.table = fixtures.profile_table(self.seed, self.rows)
        self.frame = fixtures.profile_frame(self.seed, self.rows)
        self.rows_per_op = self.rows
        self.input_bytes = _dir_stats(self.table)[1]

    def has_state(self) -> bool:
        return True

    def bind(self, spark) -> None:
        self.df = spark.read.parquet(self.table)

    def reset(self, spark) -> None:
        pass

    def op(self, spark) -> dict:
        from advanced_data_profile_spark.plans.html_report import render_html
        from advanced_data_profile_spark.plans.profile_report import profile_table_report

        report = profile_table_report(self.df, table_name="bench_profile")
        return {"report": report, "html": render_html(report)}

    def check(self, spark, out: dict) -> list[str]:
        """Compares the report with pandas on the generated frame."""
        import math

        errs = []
        pdf, rep = self.frame, out["report"]
        if rep.get("total_rows") != len(pdf):
            errs.append(f"total_rows {rep.get('total_rows')} != {len(pdf)}")
        cols = rep["partitions"]["__all__"]["columns"]
        for c, logical in fixtures.PROFILE_TYPES.items():
            r, s = cols.get(c), pdf[c]
            if r is None:
                errs.append(f"{c}: missing")
                continue
            want = {
                "n_rows": len(s), "n_null": int(s.isna().sum()),
                "n_distinct": int(s.nunique()), "logical_type": logical,
            }
            for k, v in want.items():
                if r.get(k) != v:
                    errs.append(f"{c}.{k}: {r.get(k)} != {v}")
            if s.dtype.kind in "if":
                for k, v in (("min_num", s.min()), ("max_num", s.max()), ("mean", s.mean())):
                    if r.get(k) is None or not math.isclose(r[k], float(v), rel_tol=1e-9):
                        errs.append(f"{c}.{k}: {r.get(k)} != {v}")
        if "bench_profile" not in out["html"]:
            errs.append("html report lacks the table name")
        return errs

    def trace_layers(self, spark, tr, out: dict) -> None:
        from pyspark.sql import types as T

        from advanced_data_profile_spark.operators.correlation import correlation_matrix
        from advanced_data_profile_spark.operators.stats import NUMERIC_TYPES, profile
        from advanced_data_profile_spark.operators.text_ml import char_counts, word_frequencies
        from advanced_data_profile_spark.operators.topk import top_k_values
        from advanced_data_profile_spark.operators.typeinfer import (
            generate_format_candidates,
            infer_types,
        )
        from advanced_data_profile_spark.plans.html_report import render_html

        df = self.df
        strings = [f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)]
        values = [self.frame[c].dropna() for c in strings]
        n_values = sum(len(v) for v in values)
        with tr.span(
            "operators.typeinfer.infer",
            # the sample covers the whole table at this size
            parse_attempts=n_values * len(generate_format_candidates()),
            distinct_share=sum(v.nunique() for v in values) / max(1, n_values),
        ):
            infer_types(df)
        with tr.span("operators.stats.profile_exact"):
            profile(df).collect()
        with tr.span("operators.topk.top_k"):
            top_k_values(df, ["category", "count_int"], k=10).collect()
        nums = [f.name for f in df.schema.fields if isinstance(f.dataType, NUMERIC_TYPES)]
        with tr.span("operators.correlation.matrix"):
            correlation_matrix(df, nums).collect()
        # the report calls text_ml only for prose columns, which this
        # table does not have; the span times the operators on its
        # longest string column
        with tr.span("operators.text_ml.text"):
            word_frequencies(df, "id_str", top=25).collect()
            char_counts(df, "id_str").collect()
        with tr.span("plans.html_report.render"):
            render_html(out["report"])


WORKLOADS = {
    "validate_incremental": ValidateIncremental,
    "profile_table": ProfileTable,
}
