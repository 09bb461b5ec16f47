"""The benchmark's workloads: inputs, the operation, its check, and the
layer probes of the traced run.

Each workload is a closed loop with one client, the benchmark process: it
issues the next operation only after the previous one returned and was
checked. Operations call only the engine's public functions.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import sys
import threading
import time

import checks
import inputs

QUERIES = ("minhash_lsh_pairs", "word_freq_treebank", "sentence_sentiment",
           "bigram_collocations")

#: rows of the curate_queries warm-up table
WARM_ROWS = 200

#: input sizes per profile; "tiny" only serves the smoke test
SIZES = {
    "full": {"docs": 20000, "files": 16, "crawl_waves": 4, "rows": 5000},
    "tiny": {"docs": 360, "files": 4, "crawl_waves": 2, "rows": 200},
}


class Background:
    """Runs ``fn`` on a thread; ``result()`` joins and re-raises."""

    def __init__(self, fn, *args):
        self._out = self._err = None
        self._thread = threading.Thread(target=self._run, args=(fn, args))
        self._thread.start()

    def _run(self, fn, args):
        try:
            self._out = fn(*args)
        except BaseException as e:  # re-raised in the caller's thread
            self._err = e

    def result(self):
        self._thread.join()
        if self._err is not None:
            raise self._err
        return self._out


class ExtractBulk:
    """``kernel.extract_from_parquet(spark, corpus_dir)`` -> parquet in a
    fresh directory. Its traced run also crawls the same corpus, so the
    frontier, bloom and extract_job layers are measured there."""

    def __init__(self, run):
        self.run = run
        self.size = SIZES[run.profile]
        self.units = self.size["docs"]
        self.corpus = os.path.join(run.tmp_root, "corpus")

    def setup(self) -> None:
        inputs.write_corpus(self.run.spark, self.corpus, self.size["docs"],
                            self.run.seed, self.size["files"])
        self.docs = checks.read_docs(self.corpus)
        reference = Background(
            lambda: checks.ExtractionReference(checks.oracle_spans(self.docs)))
        out = self.op()  # warm-up: Python workers, imports, JIT
        self.reference = reference.result()
        self.run.record(self.check(out))

    def op(self) -> str:
        from wikicrawler_spark import kernel

        out = self.run.fresh_dir("extract")
        kernel.extract_from_parquet(self.run.spark, self.corpus).write.parquet(out)
        return out

    def check(self, out: str) -> str | None:
        try:
            return checks.check_extraction(out, self.reference)
        finally:
            shutil.rmtree(out, ignore_errors=True)

    # ---------------------------------------------------------- traced run

    def traced_op(self, tracer) -> list[str]:
        with tracer.span("extract_bulk.op"):
            out = self.op()
        self.run.record(self.check(out))
        return ["extract_bulk.op"]

    def probe_layers(self, tracer) -> dict:
        from wikicrawler_spark import kernel

        spark, m = self.run.spark, {}
        t0 = time.thread_time()
        for doc_id, spans in self.docs.items():
            kernel.extract_doc(doc_id, spans)
        m["kernel.docs_per_cpu_s"] = len(self.docs) / (time.thread_time() - t0)

        def declarative():
            out = self.run.fresh_dir("declarative")
            kernel.extract_spans(spark.read.parquet(self.corpus)).write.parquet(out)
            return out

        self.run.record(self.check(declarative()))  # warm-up
        with tracer.span("kernel.declarative"):
            out = declarative()
        self.run.record(self.check(out))
        m["kernel.declarative_pass_s"] = tracer.wall_s("kernel.declarative")
        m.update(self._crawl(tracer))
        return m

    def _crawl(self, tracer) -> dict:
        from pyspark.sql import functions as F

        from wikicrawler_spark import frontier
        from wikicrawler_spark.bloom import NativeBloom
        from wikicrawler_spark.extract_job import anti_join_visited, links_of

        spark, run = self.run.spark, self.run
        seeds = inputs.crawl_seeds(run.seed, self.size["docs"])
        waves = self.size["crawl_waves"]
        ckpt = run.fresh_dir("crawl")
        docs = spark.read.parquet(self.corpus)
        with tracer.span("frontier.crawl"):
            res = frontier.crawl(spark, docs, seeds, max_waves=waves,
                                 use_bloom=True, ckpt_dir=ckpt,
                                 visited_buckets=8,
                                 num_partitions=4 * run.cores)
            n_visited = res.visited.count()
        extracted: dict = {}
        want_sizes, want_visited = checks.bfs(self.docs, seeds, waves, extracted)
        visited = {r[0] for r in res.visited.select("doc_id").collect()}
        run.record(checks.check_crawl(res.wave_sizes, visited, ckpt, want_sizes,
                                      want_visited, extracted))

        def stage_sum(key):
            return sum(s.get(key, 0.0) for s in res.wave_stages)

        m = {
            "frontier.waves": res.waves,
            "frontier.visited": n_visited,
            "frontier.wall_s": tracer.wall_s("frontier.crawl"),
            "frontier.count_s": stage_sum("count"),
            "frontier.spans_s": stage_sum("spans"),
            "frontier.bloom_s": stage_sum("bloom"),
            "frontier.aux_submit_s": stage_sum("aux_submit"),
            "frontier.next_frontier_s": stage_sum("frontier"),
            "frontier.visited_s": stage_sum("visited"),
            "frontier.wave0_s": res.wave_stages[0]["total"],
        }
        files = [f for f in glob.glob(os.path.join(ckpt, "**"), recursive=True)
                 if os.path.isfile(f)]
        m["frontier.ckpt_files"] = len(files)
        m["frontier.ckpt_bytes"] = sum(os.path.getsize(f) for f in files)

        # bloom and extract_job, called on the crawl's checkpointed outputs
        visited_df = res.visited.select("doc_id")
        spans_df = spark.read.parquet(*sorted(glob.glob(os.path.join(ckpt, "wave=*", "spans"))))
        bloom = NativeBloom(max(n_visited * 8, 65536), 0.01)
        with tracer.span("bloom.merge"):
            bloom.merge_from(visited_df, "doc_id")
        with tracer.span("extract_job.links_of"):
            m["extract_job.links"] = links_of(spans_df).count()
        targets = links_of(spans_df).select(
            F.col("dst_doc_id").alias("doc_id")).distinct()
        with tracer.span("bloom.split"):
            new, maybe = bloom.split(targets, "doc_id")
            n_new, n_maybe = new.count(), maybe.count()
        n_unseen_maybe = maybe.join(visited_df, "doc_id", "left_anti").count()
        with tracer.span("extract_job.anti_join"):
            n_next = anti_join_visited(targets, visited_df, bloom=bloom,
                                       spark=spark).count()
        want_targets = {
            "wiki/" + s["media_ref"][len(checks.LINK_PREFIX):]
            for d in want_visited for s in extracted.get(d, ())
            if s["kind"] == "link" and (s["media_ref"] or "").startswith(checks.LINK_PREFIX)
        }
        want_next = len(want_targets - want_visited)
        run.record(None if n_next == want_next else
                   f"anti_join_visited kept {n_next} targets, oracle {want_next}")
        m["bloom.merge_s"] = tracer.wall_s("bloom.merge")
        m["bloom.split_s"] = tracer.wall_s("bloom.split")
        m["bloom.prune_ratio"] = n_new / max(n_new + n_maybe, 1)
        m["bloom.false_positive_ratio"] = n_unseen_maybe / max(n_maybe, 1)
        m["extract_job.links_of_s"] = tracer.wall_s("extract_job.links_of")
        m["extract_job.anti_join_s"] = tracer.wall_s("extract_job.anti_join")
        return m

    def folded_layers(self, fold: dict, probes: dict) -> dict:
        crawl = fold["frontier.crawl"]
        return {
            "frontier.jobs": crawl["jobs"],
            "frontier.driver_gap_s": crawl["driver_gap_s"],
            "frontier.scan_rows_per_wave": crawl["scan_rows"] / max(probes["frontier.waves"], 1),
        }


class CurateQueries:
    """One pass over the four curation queries, each run as
    ``queries.queries()[name](spark, dir).toPandas()``."""

    def __init__(self, run):
        self.run = run
        self.size = SIZES[run.profile]
        self.units = self.size["rows"]
        self.dir = os.path.join(run.tmp_root, "sf")
        self.walls: dict[str, list[float]] = {q: [] for q in QUERIES}

    def setup(self) -> None:
        os.makedirs(self.dir)
        path = os.path.join(self.dir, "documents.parquet")
        inputs.write_documents(path, self.run.seed, self.size["rows"])
        reference = Background(checks.query_references, path, list(QUERIES))
        # warm-up (Python workers, imports, generated code) on a small
        # table of the same schema, while DuckDB computes the references
        warm = os.path.join(self.run.tmp_root, "sf-warm")
        os.makedirs(warm)
        inputs.write_documents(os.path.join(warm, "documents.parquet"),
                               self.run.seed, WARM_ROWS)
        self._pass(warm)
        self.reference = reference.result()

    def _pass(self, sf_dir: str) -> tuple[dict, dict]:
        from wikicrawler_spark import queries

        frames, walls = {}, {}
        for name in QUERIES:
            t0 = time.monotonic()
            frames[name] = queries.queries()[name](self.run.spark, sf_dir).toPandas()
            walls[name] = time.monotonic() - t0
        return frames, walls

    def op(self) -> dict:
        frames, walls = self._pass(self.dir)
        for name, wall in walls.items():
            self.walls[name].append(wall)
        print("query walls (s): " + " ".join(f"{q} {w:.3f}" for q, w in walls.items()),
              file=sys.stderr, flush=True)
        return frames

    def check(self, frames: dict) -> str | None:
        errors = [checks.check_query(q, frames[q], self.reference[q]) for q in QUERIES]
        errors = [e for e in errors if e]
        return "; ".join(errors) or None

    # ---------------------------------------------------------- traced run

    def traced_op(self, tracer) -> list[str]:
        from wikicrawler_spark import queries

        frames, names = {}, []
        for q in QUERIES:
            with tracer.span(f"queries.{q}.build"):
                df = queries.queries()[q](self.run.spark, self.dir)
            with tracer.span(f"queries.{q}.exec"):
                frames[q] = df.toPandas()
            names += [f"queries.{q}.build", f"queries.{q}.exec"]
        self.run.record(self.check(frames))
        return names

    def probe_layers(self, tracer) -> dict:
        m = {}
        for q in QUERIES:
            m[f"queries.{q}.wall_s"] = statistics.median(self.walls[q])
            m[f"queries.{q}.build_s"] = tracer.wall_s(f"queries.{q}.build")
            m[f"queries.{q}.exec_s"] = tracer.wall_s(f"queries.{q}.exec")
        return m

    def folded_layers(self, fold: dict, probes: dict) -> dict:
        m = {}
        for q in QUERIES:
            build, exe = fold[f"queries.{q}.build"], fold[f"queries.{q}.exec"]
            m[f"queries.{q}.python_run_s"] = build["python_run_s"] + exe["python_run_s"]
            m[f"queries.{q}.exchange_bytes"] = (build["exchange_bytes_written"]
                                                + exe["exchange_bytes_written"])
        return m


WORKLOADS = {"extract_bulk": ExtractBulk, "curate_queries": CurateQueries}
