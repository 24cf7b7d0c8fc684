"""The benchmark workloads: inputs, warm-up, the timed operation, output
checks and the traced run, for each workload.

Every workload drives the package through its public entry points only
(``run_pipeline``, ``process_kg_batch``/``compact_kg``, the ``graphq``
operators, and the layer functions the pipeline composes).  The program
receives only the generated transcript parquet and a ``PipelineConfig``.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
from collections import Counter

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
import refgraph
from procstat import tree_cpu_s
from stats import multiset_digest
from spans import ENGINE_KEYS, SinkCounter, Tracer, dir_bytes_files, patched

from docs2kg_spark.config import PipelineConfig
from docs2kg_spark.io.sinks import TableStore
from docs2kg_spark.operators import graphq, linking
from docs2kg_spark.operators.graph import conversation_metadata_kg, materialize_kg
from docs2kg_spark.operators.linking import build_canonical_map
from docs2kg_spark.operators.mentions import extract_fused
from docs2kg_spark.operators.segments import segment_transcripts
from docs2kg_spark.oracle import ReferenceOracle
from docs2kg_spark.plans.pipeline import normalize_input, run_pipeline
from docs2kg_spark.streaming import incremental

# ---- sizes ---------------------------------------------------------------
# Open vocabulary: 2,000 entities + ~30% aliases = ~2,600 surfaces, above
# the extraction's large-vocabulary threshold (mentions._LARGE_VOCAB).
OPEN_ENTITIES = 2000
# Linking leaves its driver-side fast path above this many distinct
# surfaces; set below the surface count so the distributed
# MinHash-LSH + connected-components path runs.
OPEN_LINK_DRIVER_MAX_NODES = 1024
PR_SAMPLE_TURNS = 80
MIN_TRIPLE_PR = 0.95

# The traced build run also feeds the same input, split by conversation
# into this many micro-batches, through process_kg_batch + compact_kg.
INGEST_BATCHES = 2

# query_kg reads the kg_edges of one open-vocabulary run_pipeline
QUERY_HUBS = 10  # the entities with the most edges
QUERY_CYCLES = 6  # distinct (hub, tail) seed pairs
QUERY_TOP_K = 20
QUERY_PPR_ITERS = 3
QUERY_K = 2

LAYERS = ("segments", "mentions", "linking", "graph", "sinks", "incremental", "graphq")


# ---- helpers --------------------------------------------------------------


def open_inputs(seed: int):
    """The open-vocabulary gazetteer and its transcript rows."""
    vocab = gen.OpenVocab.generate(OPEN_ENTITIES, seed)
    return vocab, vocab.rows(seed)


def open_config(vocab: gen.OpenVocab) -> PipelineConfig:
    return PipelineConfig(gazetteer=vocab.gazetteer(), linking_driver_max_nodes=OPEN_LINK_DRIVER_MAX_NODES)


def table_rows(path: str) -> int:
    """Row count of a parquet table from its footers (no Spark job)."""
    n = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
    return n


def table_digest(df, distinct: bool = False) -> str:
    """Order-insensitive digest of a DataFrame's rows (columns by name)."""
    cols = sorted(df.columns)
    df = df.select(*cols)
    if distinct:
        df = df.distinct()
    hashes = df.select(F.xxhash64(*cols).alias("h")).toPandas()["h"]
    return multiset_digest(hashes)


class Check:
    """Named pass/fail results of output checks."""

    def __init__(self):
        self.results: list[dict] = []

    def add(self, name: str, ok: bool, **detail) -> None:
        self.results.append({"check": name, "ok": bool(ok), **detail})

    @property
    def failed(self) -> int:
        return sum(not r["ok"] for r in self.results)


class Workload:
    """Base: ``generate`` makes inputs from the seed, ``prepare`` writes them
    and warms up, ``op`` is one timed operation, ``check`` verifies outputs
    after the timed window, ``traced`` makes the per-layer numbers (a layer
    it leaves out did no work).  ``op`` returns its wall time, the CPU time
    of the process tree over the same span, and the items it handled."""

    # the workload's names for the median, tail and rate of its timed
    # operation (reported on the detail line)
    names = {"p50": "op_p50_s", "tail": None, "rate": "items_per_s"}

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.checks = Check()
        self.extra: dict = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def _fill_engine(out: dict, counters: dict, total_span_s: float, self_s: dict) -> None:
    for layer, c in counters.items():
        if layer in LAYERS:
            for k in ENGINE_KEYS:
                out[f"{layer}.{k}"] = c[k]
    for layer in LAYERS:
        if layer in self_s and total_span_s > 0:
            out[f"{layer}.share"] = self_s[layer] / total_span_s


# ---- build_open_vocab -----------------------------------------------------


class BuildOpenVocab(Workload):
    names = {"p50": "build_s", "tail": None, "rate": "triples_per_s"}
    # One warm-up build: a second one made the timed build's CPU time
    # steadier (the JIT is still compiling during a JVM's second build)
    # but cost ~10 s a run, which the benchmark's time budget cannot carry.
    warmup_builds = 1

    def generate(self):
        return open_inputs(self.seed)

    def prepare(self, inputs) -> None:
        self.vocab, rows = inputs
        self.input_path = self.path("input.parquet")
        gen.write_parquet(rows, self.input_path)
        self.rows = rows
        self.cfg = open_config(self.vocab)
        self.df = self.spark.read.parquet(self.input_path)
        for _ in range(self.warmup_builds):
            run_pipeline(self.spark, self.df, self.path("warmup"), self.cfg, resume=False)
            shutil.rmtree(self.path("warmup"), ignore_errors=True)
        self.last = None

    def op(self, i: int):
        wd = self.path(f"build-{i}")
        t, c = time.monotonic(), tree_cpu_s()
        res = run_pipeline(self.spark, self.df, wd, self.cfg, resume=False)
        dt, cpu = time.monotonic() - t, tree_cpu_s() - c
        n = table_rows(os.path.join(wd, "triples"))
        if self.last is not None:
            shutil.rmtree(self.last[0], ignore_errors=True)
        self.last = (wd, res)
        return dt, cpu, n

    def check(self) -> None:
        _wd, res = self.last
        self._check_canonical_map(res["canonical_map"], "canonical_map_matches_ground_truth")
        nodes = table_rows(os.path.join(_wd, "canonical_map"))
        self.checks.add(
            "linking_took_distributed_path",
            nodes > self.cfg.linking_driver_max_nodes,
            nodes=nodes, driver_max_nodes=self.cfg.linking_driver_max_nodes,
        )
        self._check_triple_pr(res["triples"])

    def _check_canonical_map(self, cmap_df, name: str) -> None:
        """Every generated surface is a node, every alias shares its base's
        canonical id, and no two entities share one."""
        rows = cmap_df.select("text", "label", "canonical_id").collect()
        groups = self.vocab.node_groups()
        ids_of_entity: dict[int, set] = {}
        entities_of_id: dict[str, set] = {}
        unknown = 0
        for r in rows:
            e = groups.get((r["text"], r["label"]))
            if e is None:
                unknown += 1
                continue
            ids_of_entity.setdefault(e, set()).add(r["canonical_id"])
            entities_of_id.setdefault(r["canonical_id"], set()).add(e)
        split = sum(len(v) > 1 for v in ids_of_entity.values())
        merged = sum(len(v) > 1 for v in entities_of_id.values())
        self.checks.add(
            name,
            unknown == 0 and split == 0 and merged == 0 and len(rows) == len(groups),
            nodes=len(rows), expected_nodes=len(groups), unknown=unknown,
            unmerged_aliases=split, wrong_merges=merged,
        )

    def _check_triple_pr(self, triples_df) -> None:
        rng = random.Random(self.seed)
        candidates = [r for r in self.rows if r["text"].strip()]
        sample = rng.sample(candidates, min(PR_SAMPLE_TURNS, len(candidates)))
        oracle = ReferenceOracle(gazetteer=self.vocab.gazetteer())
        segs = oracle.segments(sample)
        want = {(t["seg_id"], t["subj"], t["pred"], t["obj"]) for t in oracle.triples(segs)}
        ids = [s["seg_id"] for s in segs]
        got = {
            (r["seg_id"], r["subj"], r["pred"], r["obj"])
            for r in triples_df.filter(F.col("seg_id").isin(ids))
            .select("seg_id", "subj", "pred", "obj")
            .collect()
        }
        tp = len(got & want)
        precision = tp / len(got) if got else 1.0
        recall = tp / len(want) if want else 1.0
        self.checks.add(
            "triple_pr_vs_reference_oracle",
            precision >= MIN_TRIPLE_PR and recall >= MIN_TRIPLE_PR and len(want) > 0,
            precision=precision, recall=recall, sampled_turns=len(sample), reference_triples=len(want),
        )

    def traced(self) -> dict:
        out = {}
        build_s, _cpu, _n = self.op(0)
        _wd, res = self.last
        for stage, wall_s in res["stage_times"].items():
            out[f"pipeline.stage_wall.{stage}"] = wall_s
        want = {t: table_digest(res[t]) for t in ("canonical_map", "kg_nodes", "kg_edges")}

        tracer = Tracer(self.spark, "build")
        sinks = SinkCounter(tracer, spans=False)
        wd = self.path("traced")
        t0 = time.monotonic()
        with sinks.installed(TableStore):
            got, extra = self._traced_build(tracer, wd)
        traced_wall = time.monotonic() - t0
        self.checks.add(
            "traced_build_output_equals_run_pipeline",
            got == want, traced=got, untraced=want,
        )

        self_s = tracer.self_times()
        _fill_engine(out, tracer.engine_counters(), tracer.top_level_time(), self_s)
        out["segments.self_s"] = self_s.get("segments", 0.0)
        out["segments.rows_out"] = table_rows(os.path.join(wd, "segments"))
        out["mentions.self_s"] = self_s.get("mentions", 0.0)
        out["mentions.mentions_out"] = table_rows(os.path.join(wd, "mentions"))
        out["mentions.triples_out"] = table_rows(os.path.join(wd, "triples"))
        out["mentions.mentions_per_segment"] = out["mentions.mentions_out"] / max(1, out["segments.rows_out"])
        out["linking.self_s"] = self_s.get("linking", 0.0)
        out.update(extra)
        out["graph.materialize_self_s"] = self_s.get("graph.materialize", 0.0)
        out["graph.metadata_self_s"] = self_s.get("graph.metadata", 0.0)
        out["graph.kg_nodes_out"] = table_rows(os.path.join(wd, "kg_nodes"))
        out["graph.kg_edges_out"] = table_rows(os.path.join(wd, "kg_edges"))
        self.extra["trace_overhead_s"] = traced_wall - build_s
        self.extra["untraced_build_s"] = build_s
        self.extra["traced_wall_s"] = traced_wall

        ingest_sinks = self._traced_ingest(out, res)
        counters = (sinks, ingest_sinks)
        out["sinks.write_s"] = sum(c.write_s for c in counters)
        out["sinks.writes"] = sum(c.writes for c in counters)
        out["sinks.bytes_written"] = sum(c.bytes_written for c in counters)
        out["sinks.files_written"] = sum(c.files_written for c in counters)
        # the input went through the build and through the micro-batches
        out["sinks.bytes_per_input_byte"] = out["sinks.bytes_written"] / (2 * os.path.getsize(self.input_path))
        return out

    def _traced_ingest(self, out: dict, reference: dict) -> SinkCounter:
        """The same input, split by conversation into ``INGEST_BATCHES``
        micro-batches, through ``process_kg_batch`` and one ``compact_kg``.
        The compacted KG must equal ``run_pipeline``'s over the whole input
        (as distinct row sets), and its canonical map the ground truth."""
        convs = sorted({r["conv_id"] for r in self.rows})
        batch_of = {c: i % INGEST_BATCHES for i, c in enumerate(convs)}
        batches = []
        for b in range(INGEST_BATCHES):
            p = self.path(f"batch-{b}.parquet")
            gen.write_parquet([r for r in self.rows if batch_of[r["conv_id"]] == b], p)
            batches.append(self.spark.read.parquet(p))
        store_dir = self.path("ingest")
        store = TableStore(self.spark, store_dir)
        tracer = Tracer(self.spark, "ingest")
        sinks = SinkCounter(tracer, spans=True)
        link_stats = []
        with sinks.installed(TableStore), patched(
            incremental,
            "update_canonical_state",
            tracer.wrap("incremental", "incremental.link", incremental.update_canonical_state),
        ):
            for b, df in enumerate(batches):
                with tracer.span("incremental", "incremental.batch"):
                    link_stats.append(incremental.process_kg_batch(self.spark, store, df, b, self.cfg))
            with tracer.span("incremental", "incremental.compact"):
                compacted = incremental.compact_kg(self.spark, store_dir, self.cfg)

        for t in ("kg_nodes", "kg_edges"):
            got = table_digest(compacted[t], distinct=True)
            want = table_digest(reference[t], distinct=True)
            self.checks.add(f"compacted_{t}_equals_run_pipeline", got == want, compacted=got, batch=want)
        self._check_canonical_map(compacted["canonical_map"], "incremental_canonical_map_matches_ground_truth")

        self_s = tracer.self_times()
        _fill_engine(out, tracer.engine_counters(), tracer.top_level_time(), self_s)
        out["incremental.self_s"] = self_s.get("incremental", 0.0)
        out["incremental.link_s"] = statistics.median(tracer.durations("incremental.link"))
        out["incremental.compact_s"] = tracer.durations("incremental.compact")[0]
        out["incremental.jobs_per_batch"] = tracer.jobs_under("incremental.batch") / INGEST_BATCHES
        out["incremental.new_surfaces"] = sum(s["n_new_surfaces"] for s in link_stats)
        out["incremental.new_edges"] = sum(s["n_new_edges"] for s in link_stats)
        out["incremental.remaps"] = sum(s["n_remaps"] for s in link_stats)
        out["incremental.state_bytes"] = sum(
            dir_bytes_files(os.path.join(store_dir, t))[0]
            for t in ("link_nodes", "link_bands", "link_edges", "canonical_state", "canonical_remaps")
        )
        return sinks

    def _traced_build(self, tracer: Tracer, wd: str):
        """The batch pipeline's critical path, serially on this thread, one
        span per layer; each span's work is forced by its table write."""
        spark, cfg = self.spark, self.cfg
        store = TableStore(spark, wd)
        seen: dict = {}

        def keep(fn, key):
            def wrapped(*args, **kwargs):
                result = fn(*args, **kwargs)
                seen[key] = result[0] if isinstance(result, tuple) else result
                return result

            return wrapped

        with tracer.span("segments"):
            good = normalize_input(self.df).filter(
                F.col("conv_id").isNotNull() & F.col("turn_idx").isNotNull()
            )
            store.write(segment_transcripts(good), "segments")
            segs = store.read("segments")
        with tracer.span("graph", "graph.metadata"):
            meta_nodes, meta_edges = conversation_metadata_kg(good)
            store.write(meta_nodes, "metadata_nodes")
            store.write(meta_edges, "metadata_edges")
        with tracer.span("mentions"):
            enriched, _, _ = extract_fused(segs, spark, cfg)
            store.write(enriched, "extraction")
            ext = store.read("extraction")
            store.write(
                ext.select("conv_id", "seg_id", F.explode_outer("ext.mentions").alias("m"))
                .filter(F.col("m").isNotNull())
                .select("conv_id", "seg_id", "m.start", "m.end", "m.text", "m.label", "m.confidence", "m.method"),
                "mentions",
            )
            store.write(
                ext.select("conv_id", "seg_id", F.explode_outer("ext.triples").alias("t"))
                .filter(F.col("t").isNotNull())
                .select("conv_id", "seg_id", "t.subj", "t.subj_label", "t.pred", "t.obj", "t.obj_label", "t.confidence"),
                "triples",
            )
            mentions, triples = store.read("mentions"), store.read("triples")
        with patched(linking, "candidate_pairs", keep(linking.candidate_pairs, "pairs")), patched(
            linking, "verified_edges", keep(linking.verified_edges, "edges")
        ):
            with tracer.span("linking"):
                cmap, block_stats = build_canonical_map(mentions, spark, cfg)
                store.write(cmap, "canonical_map")
        cmap = store.read("canonical_map")
        with tracer.span("graph", "graph.materialize"):
            schema = dict(cfg.layout_schema) if cfg.layout_schema is not None else None
            kg_nodes, kg_edges = materialize_kg(segs, mentions, triples, cmap, layout_schema=schema)
            store.write(kg_nodes, "kg_nodes")
            store.write(kg_edges, "kg_edges")

        # counts made outside every span, so they are not charged to a layer
        n_pairs = seen["pairs"].count() if "pairs" in seen else 0
        n_edges = seen["edges"].count() if "edges" in seen else 0
        stats = block_stats.collect()[0]
        extra = {
            "linking.nodes": table_rows(os.path.join(wd, "canonical_map")),
            "linking.candidate_pairs": n_pairs,
            "linking.verified_edges": n_edges,
            "linking.verify_yield": n_edges / n_pairs if n_pairs else 0.0,
            "linking.canonical_ids": cmap.select("canonical_id").distinct().count(),
            "linking.capped_blocks": stats["n_capped_blocks"] or 0,
        }
        got = {
            "canonical_map": table_digest(cmap),
            "kg_nodes": table_digest(store.read("kg_nodes")),
            "kg_edges": table_digest(store.read("kg_edges")),
        }
        return got, extra


# ---- query_kg -------------------------------------------------------------


class QueryKG(Workload):
    """Graph reads over the ``kg_edges`` that ``run_pipeline`` writes for
    the open-vocabulary input.  One operation is a cycle of three reads:
    ``k_hop`` from a hub entity, ``personalized_pagerank`` from a tail
    entity and the ``degrees`` top-k, so every cycle does alike work."""

    names = {"p50": "query_cycle_p50_s", "tail": "query_cycle_tail_s", "rate": "reads_per_s"}
    warmup_cycles = 2  # after the set-up build, which warms the JVM too

    def generate(self):
        return open_inputs(self.seed)

    def prepare(self, inputs) -> None:
        vocab, rows = inputs
        p = self.path("input.parquet")
        gen.write_parquet(rows, p)
        # the default linking route: a 2,600-node vocabulary stays on the
        # driver-side path, which writes the same KG faster
        cfg = PipelineConfig(gazetteer=vocab.gazetteer())
        t = time.monotonic()
        res = run_pipeline(self.spark, self.spark.read.parquet(p), self.path("kg"), cfg, resume=False)
        self.extra["kg_build_s"] = time.monotonic() - t
        typed = [tuple(r) for r in res["kg_edges"].select("src", "dst", "type").collect()]
        self.extra["kg_edges"] = len(typed)
        self.edges = res["kg_edges"].select("src", "dst")
        self.edge_list = [(s, d) for s, d, _t in typed]
        self.cycles = self._cycles(typed)
        self.digests: dict[tuple[int, int], str] = {}
        self.mismatch = 0
        self.wrong: list[tuple[int, int]] = []
        self.read_s: dict[str, list[float]] = {"k_hop": [], "ppr": [], "degrees": []}
        for i in range(self.warmup_cycles):
            self.op(i)
        for times in self.read_s.values():
            times.clear()  # per-read times of the timed window only

    def _cycles(self, typed) -> list[list[tuple[str, str | None]]]:
        """Seeded read cycles, one (hub, tail) seed pair each.  The hubs are
        the ``QUERY_HUBS`` entity nodes (HAS_ENTITY targets) with the most
        edges, the tail every other entity."""
        entities = {d for _s, d, t in typed if t == "HAS_ENTITY"}
        degree = Counter(n for s, d, _t in typed for n in (s, d) if n in entities)
        ranked = sorted(degree, key=lambda n: (-degree[n], n))
        hubs, tail = ranked[:QUERY_HUBS], ranked[QUERY_HUBS:]
        rng = random.Random(self.seed)
        out = []
        for _ in range(QUERY_CYCLES):
            hub, low = rng.choice(hubs), rng.choice(tail)
            out.append([("k_hop", hub), ("ppr", low), ("degrees", None)])
        return out

    def run_query(self, kind: str, node: str | None):
        if kind == "degrees":
            rows = graphq.degrees(self.edges).orderBy(F.desc("degree"), "node").limit(QUERY_TOP_K).collect()
            return [(r["node"], r["out_degree"], r["in_degree"], r["degree"]) for r in rows]
        seeds = self.spark.createDataFrame([(node,)], "node string")
        if kind == "k_hop":
            rows = graphq.k_hop(self.edges, seeds, QUERY_K).collect()
            return sorted((r["node"], r["hops"]) for r in rows)
        ranks = graphq.personalized_pagerank(self.edges, seeds, iters=QUERY_PPR_ITERS)
        rows = ranks.orderBy(F.desc("pr"), "node").limit(QUERY_TOP_K).collect()
        return [(r["node"], r["pr"]) for r in rows]

    def op(self, i: int):
        c = i % len(self.cycles)
        results = []
        t0, c0 = time.monotonic(), tree_cpu_s()
        for kind, node in self.cycles[c]:
            t = time.monotonic()
            results.append(self.run_query(kind, node))
            self.read_s[kind].append(time.monotonic() - t)
        dt, cpu = time.monotonic() - t0, tree_cpu_s() - c0
        for j, result in enumerate(results):
            self._record((c, j), result)
        return dt, cpu, len(results)

    def _record(self, key: tuple[int, int], result) -> None:
        """First sight of a read: compare with the reference answer; later
        sights: the digest must repeat."""
        digest = multiset_digest(hash_rows(result))
        if key not in self.digests:
            self.digests[key] = digest
            kind, node = self.cycles[key[0]][key[1]]
            if not self._matches_reference(kind, node, result):
                self.wrong.append(key)
        elif self.digests[key] != digest:
            self.mismatch += 1

    def _matches_reference(self, kind: str, node: str | None, result) -> bool:
        if kind == "k_hop":
            return result == sorted(refgraph.k_hop(self.edge_list, node, QUERY_K).items())
        if kind == "degrees":
            return result == refgraph.degrees_top(self.edge_list, QUERY_TOP_K)
        ref = refgraph.ppr(self.edge_list, node, QUERY_PPR_ITERS)
        ranked = sorted(ref.values(), reverse=True)
        floor = ranked[min(QUERY_TOP_K, len(ranked)) - 1]
        return len(result) == min(QUERY_TOP_K, len(ref)) and all(
            abs(pr - ref.get(n, -1.0)) <= 1e-9 and pr >= floor - 1e-9 for n, pr in result
        )

    def check(self) -> None:
        self.checks.add(
            "query_results_match_reference", not self.wrong,
            reads_checked=len(self.digests), wrong=self.wrong,
        )
        self.checks.add(
            "query_digests_repeat", self.mismatch == 0,
            mismatches=self.mismatch,
        )
        self.extra["query_digest"] = multiset_digest(
            int(d.split(":")[1], 16) for d in self.digests.values()
        )
        self.extra["read_p50_s"] = {k: statistics.median(v) for k, v in self.read_s.items() if v}

    def traced(self) -> dict:
        out = {}
        tracer = Tracer(self.spark, "query")
        frontier = 0
        for c, cycle in enumerate(self.cycles):
            for j, (kind, node) in enumerate(cycle):
                with tracer.span("graphq", f"graphq.{kind}"):
                    result = self.run_query(kind, node)
                if kind == "k_hop":
                    frontier += len(result)
                self._record((c, j), result)
        self_s = tracer.self_times()
        _fill_engine(out, tracer.engine_counters(), tracer.top_level_time(), self_s)
        out["graphq.self_s"] = self_s.get("graphq", 0.0)
        out["graphq.k_hop_s"] = statistics.median(tracer.durations("graphq.k_hop"))
        out["graphq.ppr_s"] = statistics.median(tracer.durations("graphq.ppr"))
        out["graphq.degrees_s"] = statistics.median(tracer.durations("graphq.degrees"))
        out["graphq.jobs_per_query"] = out.get("graphq.jobs", 0.0) / len(tracer.spans)
        out["graphq.frontier_rows"] = frontier
        return out


def hash_rows(rows) -> list[int]:
    """Stable 64-bit hashes of result tuples (floats rounded to 12 digits)."""
    import hashlib

    out = []
    for r in rows:
        norm = tuple(round(v, 12) if isinstance(v, float) else v for v in r)
        out.append(int.from_bytes(hashlib.blake2b(repr(norm).encode(), digest_size=8).digest(), "little"))
    return out


WORKLOADS = {
    "build_open_vocab": BuildOpenVocab,
    "query_kg": QueryKG,
}
