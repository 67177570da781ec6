"""The benchmark workloads. Each one loads a different layer hardest:

- ``validate_bulk``: one ``runner.run_validation`` per op over a seeded
  interleaved corpus. The compiled Column tree and the bucket shuffle+write
  do the work; text and dedup do none.
- ``curate_corpus``: the ``pipeline_curate`` driver query over a seeded text
  corpus with exact and near-duplicate copies. Text gates, exact dedupe,
  MinHash/LSH, Jaccard and connected components do the work; the runner
  does none.

A workload generates its inputs (set-up), runs one op, checks an op's
output against the DuckDB reference, and in a traced run records spans and
reads per-layer numbers back from the event log.
"""

from __future__ import annotations

import hashlib
import inspect
import os
import shutil

from xbench import gen, harness, ref
from xbench.harness import dir_stats, median, timed
from xbench.trace import runner_phases, totals

BULK_DOCS, BULK_FILES, BULK_BUCKETS = 120_000, 8, 16
INC_BATCH, INC_BATCHES, INC_BUCKETS = 5_000, 8, 16
CURATE_BASE, CURATE_COPY_FRAC = 800, 0.25

# the arguments _q_pipeline_curate passes to pipeline.curate, mirrored by the
# staged replay (which checks that it reproduces the query's row count)
CURATE_RULE = {"type": "object",
               "properties": {"text": {"type": "string", "min_length": 50}},
               "required": ["text"]}
CURATE_ARGS = {"langs": ("en",), "min_alpha_ratio": 0.81,
               "max_top_ngram_frac": 0.15, "max_dup_ngram_frac": 0.5,
               "near_dup_threshold": 0.8, "hash_fn": "portable",
               "max_shingles": 4096}


def _source_key() -> str:
    """Cache key part that changes whenever the generators or the SQL
    references change."""
    h = hashlib.sha256()
    for mod in (gen, ref):
        h.update(inspect.getsource(mod).encode())
    return h.hexdigest()


class Workload:
    name = ""

    def generate(self, work: str, seed: int) -> None:
        raise NotImplementedError

    def reference(self, work: str, seed: int, cache: str):
        raise NotImplementedError

    def op(self, spark, work: str, i: int, tracer=None) -> dict:
        """Run op ``i``; returns {"wall", "out", ...}. With a
        tracer, the engine calls run inside spans."""
        raise NotImplementedError

    def check(self, rec: dict, reference) -> bool:
        raise NotImplementedError

    def replay(self, spark, work: str, tracer) -> dict:
        """Traced calls made before the traced ops, in the fresh JVM."""
        raise NotImplementedError

    def check_replay(self, replay: dict, reference) -> bool:
        raise NotImplementedError

    def layers(self, recs: list[dict], replay: dict, log) -> dict:
        raise NotImplementedError


# ---------------------------------------------------------------------------

class ValidateBulk(Workload):
    """One run_validation per op. The traced run also replays the commit
    layer the other way round: INC_BATCHES micro-batches through
    streaming.commit_micro_batch into one fresh output dir, each followed
    by a committed-view read (runner.read_verdicts, counts by valid)."""
    name = "validate_bulk"

    @staticmethod
    def _path(work, *parts):
        return os.path.join(work, "bulk", *parts)

    def generate(self, work, seed):
        docs = harness.fresh_dir(self._path(work, "documents"))
        table = gen.interleaved_docs(seed, BULK_DOCS)
        step = -(-BULK_DOCS // BULK_FILES)
        for k in range(BULK_FILES):
            gen.write(table.slice(k * step, step),
                      os.path.join(docs, f"part-{k:02d}.parquet"), row_groups=2)
        gen.write(gen.assets_table(BULK_DOCS), self._path(work, "assets.parquet"))
        harness.fresh_dir(self._path(work, "batches"))
        for k in range(INC_BATCHES):
            # ids past the bulk corpus, one disjoint range per batch
            gen.write(gen.interleaved_docs(seed * INC_BATCHES + k + 1, INC_BATCH,
                                           id_base=BULK_DOCS + k * INC_BATCH),
                      self._path(work, "batches", f"b{k}.parquet"), row_groups=4)

    def reference(self, work, seed, cache):
        batches = [self._path(work, "batches", f"b{k}.parquet")
                   for k in range(INC_BATCHES)]
        return ref.cached(
            cache, [self.name, str(seed), str(BULK_DOCS), str(BULK_FILES),
                    str(INC_BATCH), str(INC_BATCHES), _source_key()],
            lambda: {"bulk": ref.validation_counts(
                         work, self._path(work, "documents", "*.parquet"),
                         self._path(work, "assets.parquet")),
                     "micro": ref.valid_split(work, batches)})

    def op(self, spark, work, i, tracer=None):
        from xema_spark import runner
        from xema_spark.datagen import FLAGSHIP_RULE

        out = self._path(work, "out", f"op{i}")
        docs_dir = self._path(work, "documents")

        def call():
            docs = spark.read.parquet(docs_dir)
            assets = spark.read.parquet(self._path(work, "assets.parquet"))
            return runner.run_validation(spark, docs, FLAGSHIP_RULE, out,
                                         assets=assets, n_buckets=BULK_BUCKETS)

        rec = {}
        if tracer is None:
            rec["wall"], m = timed(call)
        else:
            with tracer.span("runner.run_validation", i) as sp:
                rec["wall"], m = timed(call)
            rec["group"] = sp["group"]
            rec["out_files"], out_bytes = dir_stats(out)
            rec["out_ratio"] = out_bytes / dir_stats(docs_dir)[1]
        rec["out"] = {k: m[k] for k in ("n_rows", "n_valid", "n_violations",
                                        "duplicate_doc_ids", "dangling_refs")}
        # phase timings as run_validation itself reports them
        rec["phases"] = {k: m[k] for k in ("scan_elapsed_sec",
                                           "commit_elapsed_sec",
                                           "violations_elapsed_sec")}
        shutil.rmtree(out, ignore_errors=True)
        return rec

    def check(self, rec, reference):
        return rec["out"] == reference["bulk"]

    def replay(self, spark, work, tracer):
        out = harness.fresh_dir(self._path(work, "micro"))
        return {"micro": [self._micro_batch(spark, work, k, out, tracer)
                          for k in range(INC_BATCHES)]}

    def _micro_batch(self, spark, work, k, out, tracer):
        from pyspark.sql import functions as F, types as T

        from xema_spark import runner, streaming
        from xema_spark.compiler import compile_rule
        from xema_spark.datagen import FLAGSHIP_RULE
        from xema_spark.rules import normalize_rule

        batch = spark.read.parquet(self._path(work, "batches", f"b{k}.parquet"))
        rec = {}
        # compile_rule on its own, as commit_micro_batch pays it per batch
        dtype = T.StructType([T.StructField(f.name, f.dataType)
                              for f in batch.schema.fields])
        col = F.struct(*[F.col(c) for c in batch.columns])
        with tracer.span("compiler.compile_rule", k):
            rec["compile_s"], _ = timed(compile_rule,
                                        normalize_rule(FLAGSHIP_RULE), col, dtype)
        with tracer.span("streaming.commit_micro_batch", k) as sp:
            rec["commit_s"], run_id = timed(
                streaming.commit_micro_batch, batch, k, FLAGSHIP_RULE, out,
                n_buckets=INC_BUCKETS)
        rec["commit_group"] = sp["group"]
        rec["files_listed"] = (dir_stats(os.path.join(out, "verdicts"))[0]
                               + dir_stats(os.path.join(out, "lineage"))[0])
        with tracer.span("runner.read_verdicts", k) as sp:
            rec["read_s"], rows = timed(lambda: runner.read_verdicts(spark, out)
                                        .groupBy("valid")
                                        .agg(F.count(F.lit(1)).alias("n"))
                                        .collect())
        rec["read_group"] = sp["group"]
        rec["committed"] = run_id is not None
        rec["out"] = {str(r["valid"]).lower(): int(r["n"]) for r in rows}
        return rec

    def check_replay(self, replay, reference):
        return all(r["committed"] and r["out"] == {key: n for key, n in want.items() if n}
                   for r, want in zip(replay["micro"], reference["micro"]))

    def layers(self, recs, replay, log):
        scan = [totals(runner_phases(log.group(r["group"]))["scan"]) for r in recs]
        micro = replay["micro"]
        commit = [totals(log.group(r["commit_group"])) for r in micro]
        return {
            "runner.scan_s": median([r["phases"]["scan_elapsed_sec"] for r in recs]),
            "runner.commit_s": median([r["phases"]["commit_elapsed_sec"] for r in recs]),
            "runner.violations_s": median([r["phases"]["violations_elapsed_sec"]
                                           for r in recs]),
            "runner.jobs": median([len(log.group(r["group"])) for r in recs]),
            "runner.shuffle_write_mb": median([s["shuffle_write_mb"] for s in scan]),
            "runner.spill_mb": median([s["spill_mb"] for s in scan]),
            "runner.task_cpu_s": median([s["cpu_s"] for s in scan]),
            "runner.busy_frac": median([s["run_s"] / (r["phases"]["scan_elapsed_sec"]
                                                      * harness.CORES)
                                        for s, r in zip(scan, recs)]),
            "runner.out_files": median([r["out_files"] for r in recs]),
            "runner.out_bytes_per_in_byte": median([r["out_ratio"] for r in recs]),
            "streaming.commit_p50_s": median([r["commit_s"] for r in micro]),
            "streaming.commit_jobs": median([c["jobs"] for c in commit]),
            "streaming.commit_task_cpu_s": median([c["cpu_s"] for c in commit]),
            "compiler.compile_s": median([r["compile_s"] for r in micro]),
            "runner.read_p50_s": median([r["read_s"] for r in micro]),
            "runner.read_last_s": micro[-1]["read_s"],
            "runner.read_jobs": median([len(log.group(r["read_group"])) for r in micro]),
            "runner.read_files_listed": micro[-1]["files_listed"],
        }


# ---------------------------------------------------------------------------

class CurateCorpus(Workload):
    name = "curate_corpus"

    @staticmethod
    def _sf(work):
        return os.path.join(work, "curate", "sf")

    def generate(self, work, seed):
        sf = harness.fresh_dir(self._sf(work))
        gen.write(gen.text_docs(seed, CURATE_BASE, CURATE_COPY_FRAC),
                  os.path.join(sf, "documents.parquet"), row_groups=1)

    def reference(self, work, seed, cache):
        import __spark_entry__ as entry

        sql = entry.oracle_sql()["pipeline_curate"]
        return ref.cached(cache, [self.name, str(seed), str(CURATE_BASE),
                                  str(CURATE_COPY_FRAC), sql, _source_key()],
                          lambda: ref.curate_rows(work, self._sf(work), sql,
                                                  ["doc_id", "lang",
                                                   "q_alpha_ratio",
                                                   "top_ngram_frac"]))

    def op(self, spark, work, i, tracer=None):
        import __spark_entry__ as entry

        query = entry.queries()["pipeline_curate"]

        def call():
            return query(spark, self._sf(work)).collect()

        rec = {}
        if tracer is None:
            rec["wall"], rows = timed(call)
        else:
            with tracer.span("pipeline.curate", i) as sp:
                rec["wall"], rows = timed(call)
            rec["group"] = sp["group"]
        rec["out"] = ref.canon_rows(
            [r["doc_id"], r["lang"], r["q_alpha_ratio"], r["top_ngram_frac"]]
            for r in rows)
        return rec

    def check(self, rec, reference):
        return rec["out"] == reference

    def replay(self, spark, work, tracer):
        """curate's public stage functions called one at a time on the same
        input, each materialised so its span owns its jobs. Run twice: the
        first pass in the fresh JVM gives the cold LSH stage, the second the
        warm stage times."""
        first = self._stages(spark, work, tracer, op=-2)
        warm = self._stages(spark, work, tracer, op=-1)
        warm["lsh_first_s"] = first["lsh_s"]
        return warm

    def _stages(self, spark, work, tracer, op):
        import __spark_entry__ as entry
        from pyspark.sql import functions as F

        from xema_spark import dedup, text
        from xema_spark.compiler import validate_df

        a = CURATE_ARGS
        d = entry._docs(spark, self._sf(work), "doc_id", "text")
        near = d.filter(F.col("doc_id") < 10).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zqx vbnm plka qwrt")).alias("text"))
        docs = d.unionByName(near)
        out = {}

        def stage(key, build):
            with tracer.span(f"replay.{key}", op):
                out[f"{key}_s"], df = timed(lambda: build().localCheckpoint(eager=True))
            return df

        gated = stage("gate", lambda: validate_df(
            docs.select("doc_id", "text"), CURATE_RULE, mode="verdict")
            .filter(F.col("valid")).drop("valid"))
        quality = stage("quality", lambda: text.quality_features(gated, "text"))
        lang_rep = stage("lang_rep", lambda: text.lang_repetition_table(
            gated, "doc_id", "text"))
        keep = ((F.col("q_alpha_ratio") >= F.lit(a["min_alpha_ratio"]))
                & F.col("lang").isin(*a["langs"])
                & (F.col("top_ngram_frac") <= F.lit(a["max_top_ngram_frac"]))
                & (F.col("dup_ngram_frac") <= F.lit(a["max_dup_ngram_frac"])))
        kept = quality.join(lang_rep, "doc_id").filter(keep) \
            .select("doc_id", "text").localCheckpoint(eager=True)
        exact = stage("exact", lambda: dedup.dedupe_exact(kept, "doc_id", "text"))
        pairs = stage("lsh", lambda: dedup.lsh_candidate_pairs(
            exact, "doc_id", "text", hash_fn=a["hash_fn"],
            max_shingles=a["max_shingles"]))
        dups = stage("jaccard", lambda: dedup.ngram_jaccard(
            exact, pairs, "doc_id", "text", threshold=a["near_dup_threshold"],
            max_shingles=a["max_shingles"]))
        losers = stage("cc", lambda: dedup.near_dup_losers(dups, "doc_id", True))
        out.update(gate_rows_out=gated.count(), text_rows_out=kept.count(),
                   exact_rows_out=exact.count(), lsh_pairs=pairs.count(),
                   jaccard_pairs=dups.count(), cc_losers=losers.count(),
                   rows_out=exact.join(losers, "doc_id", "left_anti").count())
        return out

    def check_replay(self, replay, reference):
        return replay["rows_out"] == len(reference)

    def layers(self, recs, replay, log):
        per = [totals(log.group(r["group"])) for r in recs]
        return {
            "compiler.gate_s": replay["gate_s"],
            "compiler.gate_rows_out": replay["gate_rows_out"],
            "text.quality_s": replay["quality_s"],
            "text.lang_rep_s": replay["lang_rep_s"],
            "text.gate_rows_out": replay["text_rows_out"],
            "dedup.exact_s": replay["exact_s"],
            "dedup.exact_rows_out": replay["exact_rows_out"],
            "dedup.lsh_s": replay["lsh_s"],
            "dedup.lsh_first_s": replay["lsh_first_s"],
            "dedup.lsh_pairs": replay["lsh_pairs"],
            "dedup.jaccard_s": replay["jaccard_s"],
            "dedup.jaccard_pairs": replay["jaccard_pairs"],
            "dedup.lsh_precision": (replay["jaccard_pairs"] / replay["lsh_pairs"]
                                    if replay["lsh_pairs"] else 0.0),
            "dedup.cc_s": replay["cc_s"],
            "dedup.cc_losers": replay["cc_losers"],
            "pipeline.jobs": median([p["jobs"] for p in per]),
            "pipeline.task_cpu_s": median([p["cpu_s"] for p in per]),
            "pipeline.busy_frac": median([p["run_s"] / (r["wall"] * harness.CORES)
                                          for p, r in zip(per, recs)]),
            "pipeline.shuffle_write_mb": median([p["shuffle_write_mb"] for p in per]),
            "pipeline.rows_out": len(recs[0]["out"]) if recs else 0,
        }


WORKLOADS = {w.name: w for w in (ValidateBulk, CurateCorpus)}
