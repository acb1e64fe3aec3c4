"""The benchmark's workloads. Each one generates its inputs from the seed,
runs through the engine's public entry points, and checks its outputs.

A workload has four steps, called by ``run.py``:

* ``prepare`` — generate and write the inputs (not timed, not set-up);
* ``warm`` — for ``kg_batch`` only, one pass over a small input so JIT and
  codegen caches fill; the gated workloads measure a JVM-cold pass;
* ``iteration`` — one measured unit; returns its timed phases in seconds;
* ``check`` — compare the last iteration's outputs with a reference.

``summary`` turns the iterations into metrics, ``kernel_texts`` gives the
turns the kernel profile replays, and ``layer_counts`` gives the per-layer
work counts after a traced iteration.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
import oracle
from runne_contrastive_ner_spark.functions.vocab import TEST_GAZETTEER
from runne_contrastive_ner_spark.operators import components as components_mod
from runne_contrastive_ner_spark.operators import dedup as dedup_mod
from runne_contrastive_ner_spark.operators import linking as linking_mod
from runne_contrastive_ner_spark.operators.linking import canonicalize
from runne_contrastive_ner_spark.operators.mentions import extract_mentions
from runne_contrastive_ner_spark.operators.predicates import induce_predicates
from runne_contrastive_ner_spark.operators.textstats import corpus_selection
from runne_contrastive_ner_spark.plans import manifest as manifest_mod
from runne_contrastive_ner_spark.plans.pipeline import PipelineConfig, run_pipeline
from runne_contrastive_ner_spark.sources.tables import TableIO
from runne_contrastive_ner_spark.streaming import incremental as incremental_mod

from jobs.run_streaming_pipeline import run_streaming

TRIPLE_COLS = ["conv_id", "subj", "pred", "obj", "src_turn_idx"]


def write_parquet(df, path: str) -> int:
    """Write a pandas table as one parquet file (tmp + rename, so a
    streaming source never sees a partial file); returns its size."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = os.path.join(os.path.dirname(os.path.dirname(path)), "." + os.path.basename(path))
    table = pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(table, tmp, coerce_timestamps="us", allow_truncated_timestamps=True)
    os.replace(tmp, path)
    return os.path.getsize(path)


def fingerprint(df, cols=TRIPLE_COLS) -> tuple:
    """(rows, xor of row hashes, bounded sum of row hashes) — equal for
    equal multisets of rows, computed without collecting them."""
    h = f"xxhash64({', '.join(cols)})"
    r = df.selectExpr("count(1)", f"bit_xor({h})", f"sum(pmod({h}, 1000003))").first()
    return tuple(int(v or 0) for v in r)


def triple_set(df) -> set[tuple]:
    return {oracle.triple_key(*r) for r in df.select(*TRIPLE_COLS).collect()}


class Workload:
    name = ""
    # the measured iteration is the first use of its plans in the JVM
    cold = True

    def __init__(self, bench):
        self.b = bench
        self.spark = bench.spark
        self.dir = os.path.join(bench.run_dir, self.name)
        os.makedirs(self.dir, exist_ok=True)

    def warm(self):
        """No warm pass: the measured iteration is the first use of every
        plan in this JVM, as in a job a scheduler launches per input."""


class KgBatch(Workload):
    """The flagship chain of bench.py — extract_mentions → canonicalize →
    induce_predicates(entity_col="entity_id") — over document-shaped turns
    with the default gazetteer (10 surfaces) and aliases."""

    name = "kg_batch"
    cold = False
    N_TURNS = 4000
    N_WARM = 200
    N_SAMPLE_TURNS = 60

    def prepare(self):
        seed = self.b.seed
        self.turns = gen.conversations(seed, self.N_TURNS, prefix="c")
        warm = gen.conversations(seed + 1, self.N_WARM, prefix="w")
        write_parquet(self.turns, f"{self.dir}/in/transcripts.parquet")
        write_parquet(warm, f"{self.dir}/warm/transcripts.parquet")
        self.b.inputs["transcripts"] = gen.content_hash(self.turns)
        self.base = self.spark.read.parquet(f"{self.dir}/in/transcripts.parquet")
        self.warm_base = self.spark.read.parquet(f"{self.dir}/warm/transcripts.parquet")
        self.out = f"{self.dir}/out/triples"
        return len(self.turns)

    def kernel_texts(self) -> tuple[list[str], dict]:
        return list(self.turns["text"]), TEST_GAZETTEER

    def _chain(self, base, out):
        b = self.b
        persists: list = []
        with b.span("mentions"):
            mentions = extract_mentions(base, salt_partitions=b.cpus * 4)
            mentions = b.materialize(mentions, persists)
        with b.span("linking"):
            entities, edges, linked = canonicalize(
                b.spark, mentions, persist_registry=persists
            )
            linked = b.materialize(linked, persists)
        with b.span("predicates"):
            triples = induce_predicates(
                linked, k=2, entity_col="entity_id", persist_registry=persists
            )
            triples.write.mode("overwrite").parquet(out)
        b.attempted += 3
        if b.tracer is not None:
            self.traced = (mentions, entities, edges, linked)
        for df in persists:
            df.unpersist(blocking=True)

    def warm(self):
        self._chain(self.warm_base, f"{self.dir}/warm_out")

    def iteration(self) -> dict:
        t0 = time.perf_counter()
        self._chain(self.base, self.out)
        return {"chain_s": time.perf_counter() - t0}

    def summary(self, its: list[dict]) -> dict:
        wall = statistics.median(it["chain_s"] for it in its)
        return {"wall_s": wall, "rows_per_s": self.N_TURNS / wall}

    def check(self):
        rng = random.Random(self.b.seed + 31)
        sample = oracle.sample_conversations(self.turns, rng, self.N_SAMPLE_TURNS)
        got = self.spark.read.parquet(self.out).filter(F.col("conv_id").isin(sorted(sample)))
        got = triple_set(got)
        want = oracle.kg_triples_oracle_sampled(self.turns, sample)
        self.b.compare("kg_triples vs DuckDB oracle (sampled conversations)", want, got)

    def layer_counts(self) -> dict:
        mentions, entities, edges, linked = self.traced
        n_trip = self.spark.read.parquet(self.out).count()
        turn_sets = linked.select("conv_id", "turn_idx").distinct().count()
        return {
            "mentions.rows": mentions.count(),
            "mentions.input_partitions": mentions.rdd.getNumPartitions(),
            "linking.nodes": entities.count(),
            "linking.alias_edges": edges.count(),
            "linking.entities": entities.select("canonical_id").distinct().count(),
            "predicates.turn_sets": turn_sets,
            "predicates.triples": n_trip,
            "predicates.triples_per_turn": n_trip / max(1, turn_sets),
            "mentions.turns": self.N_TURNS,
        }


class Warehouse:
    """Bytes and files a step added to a directory tree. Files are told
    apart by inode and mtime, so snapshot hardlinks of unchanged buckets
    do not count as writes."""

    def __init__(self, root: str):
        self.root = root
        self.seen: set[tuple[int, int, int]] = set()

    def step(self) -> tuple[int, int]:
        new_bytes = new_files = 0
        for dirpath, _, files in os.walk(self.root):
            for f in files:
                st = os.stat(os.path.join(dirpath, f))
                key = (st.st_ino, st.st_mtime_ns, st.st_size)
                if key not in self.seen:
                    self.seen.add(key)
                    new_bytes += st.st_size
                    new_files += 1
        return new_bytes, new_files


class KgIncremental(Workload):
    """The two incremental products, back to back in one measured unit.

    Staged: ``run_pipeline`` with the analytics stage on, over entity-dense
    short turns and a generated dictionary large enough that alias linking
    takes the broadcast-join path into ``connected_components``; cold, then
    resume after dropping only the triples manifest, then skip.

    Stream: ``run_streaming`` over a transcripts directory; cold drain, then
    tail files that add new conversations, extend old ones and introduce
    alias-linked surfaces (moving canonical ids of folded surfaces), then
    reruns with no new files."""

    name = "kg_incremental"
    N_DENSE = 800
    N_SURFACES = 12_000
    N_ALIAS_SURFACES = 11_000
    N_STREAM = 400
    N_APPEND_TURNS = 100
    # words each tail file is the first to use: the one tail adds the
    # alias-chain minimum "merge" and "big"
    INTRODUCE = ["merge big"]
    SKIPS = 1
    NOOPS = 1
    N_SAMPLE_TURNS = 40

    def prepare(self):
        seed = self.b.seed
        self.gaz, self.aliases = gen.dense_dictionary(
            seed, self.N_SURFACES, self.N_ALIAS_SURFACES
        )
        self.dense = gen.dense_turns(seed, self.N_DENSE, self.gaz)
        self.dense_bytes = write_parquet(self.dense, f"{self.dir}/in/dense.parquet")
        held = " ".join(self.INTRODUCE).split()
        vocab = [w for w in gen.SF_VOCAB if w not in held]
        self.stream0 = gen.conversations(seed, self.N_STREAM, prefix="s", vocab=vocab)
        self.tails = gen.tail_appends(
            seed, self.stream0, self.N_APPEND_TURNS, self.INTRODUCE
        )
        self.b.inputs.update(
            dense=gen.content_hash(self.dense),
            stream=gen.content_hash(self.stream0),
            tails=[gen.content_hash(t) for t in self.tails],
            dictionary=gen.content_hash(
                pd.DataFrame(sorted(self.gaz.items()), columns=["surface", "type"])
            ),
        )
        self.fp_input = self.b.inputs["dense"]
        self.dense_df = self.spark.read.parquet(f"{self.dir}/in/dense.parquet")
        return len(self.dense)

    def kernel_texts(self):
        return list(self.dense["text"]), self.gaz

    def _fresh(self, sub: str) -> str:
        path = f"{self.dir}/{sub}"
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def _pipeline(self, base, wh) -> float:
        b = self.b
        cfg = PipelineConfig(
            warehouse=wh, gazetteer=self.gaz, aliases=self.aliases, analytics=True
        )
        t0 = time.perf_counter()
        with b.span("plans"):
            res = run_pipeline(b.spark, base, cfg, input_fp=self.fp_input)
        sec = time.perf_counter() - t0
        b.attempted += len(res.metrics)
        self.stage_metrics = res.metrics
        return sec

    def _stream(self, tdir, wh) -> tuple[float, dict]:
        t0 = time.perf_counter()
        with self.b.span("stream"):
            stats = run_streaming(self.b.spark, tdir, wh)
        self.b.attempted += 1
        return time.perf_counter() - t0, stats

    def iteration(self) -> dict:
        out: dict = {}
        self.fps = {}
        self.wh = wh = self._fresh("wh")
        walk = Warehouse(wh)
        self.tables = {}
        out["cold_s"] = self._pipeline(self.dense_df, wh)
        self.cold_stages = {
            f"stage.{k}_s": m["wall_sec"] for k, m in self.stage_metrics.items()
        }
        self.tables["cold"] = walk.step()
        self.fps["cold"] = fingerprint(TableIO(self.spark, wh).read("triples"))
        os.remove(os.path.join(wh, "triples", "_manifest.json"))
        out["resume_s"] = self._pipeline(self.dense_df, wh)
        self.tables["resume"] = walk.step()
        self.fps["resume"] = fingerprint(TableIO(self.spark, wh).read("triples"))
        out["skip_s"] = [self._pipeline(self.dense_df, wh) for _ in range(self.SKIPS)]
        self.fps["skip"] = fingerprint(TableIO(self.spark, wh).read("triples"))

        tdir = self._fresh("t") + "/t"
        self.swh = swh = self._fresh("swh")
        swalk = Warehouse(swh)
        self.stream_in_bytes = write_parquet(self.stream0, f"{tdir}/part-0.parquet")
        out["drain_s"] = self._stream(tdir, swh)[0]
        self.tables["drain"] = swalk.step()
        out["append_s"], self.append_stats = [], []
        for i, tail in enumerate(self.tails, 1):
            self.stream_in_bytes += write_parquet(tail, f"{tdir}/part-{i}.parquet")
            sec, stats = self._stream(tdir, swh)
            out["append_s"].append(sec)
            self.append_stats.append(stats)
            self.tables[f"append{i}"] = swalk.step()
        out["noop_s"] = [self._stream(tdir, swh)[0] for _ in range(self.NOOPS)]
        self.tables["noop"] = swalk.step()
        return out

    def summary(self, its: list[dict]) -> dict:
        def med(key):
            return statistics.median(
                statistics.median(it[key]) if isinstance(it[key], list) else it[key]
                for it in its
            )

        appends = [s for it in its for s in it["append_s"]]
        walls = [
            sum(sum(v) if isinstance(v, list) else v for v in it.values()) for it in its
        ]
        return {
            "wall_s": statistics.median(walls),
            "rows_per_s": self.N_DENSE / med("cold_s"),
            "resume_s": med("resume_s"),
            "skip_s": med("skip_s"),
            "drain_s": med("drain_s"),
            "stream_turns_per_s": self.N_STREAM / med("drain_s"),
            "append_p50_s": statistics.median(appends),
            "append_max_s": max(appends),
            "append_samples": len(appends),
            "noop_s": med("noop_s"),
            **self.cold_stages,
        }

    def check(self):
        b = self.b
        b.compare_values("staged resume triples == cold triples", self.fps["cold"], self.fps["resume"])
        b.compare_values("staged skip triples == cold triples", self.fps["cold"], self.fps["skip"])
        # the direct composition over the same input and dictionary
        persists: list = []
        _, _, linked = canonicalize(
            b.spark,
            extract_mentions(self.dense_df, gazetteer=self.gaz),
            aliases=self.aliases,
            persist_registry=persists,
        )
        direct = induce_predicates(linked, k=2, entity_col="entity_id", persist_registry=persists)
        b.compare_values(
            "staged triples vs direct composition (whole-table fingerprint)",
            fingerprint(direct),
            self.fps["cold"],
        )
        for df in persists:
            df.unpersist(blocking=True)
        # the streaming warehouse against the DuckDB oracle over every
        # landed turn of sampled conversations: one extended by a tail file,
        # one opened by it, and old ones whose canonical ids moved
        landed = pd.concat([self.stream0, *self.tails], ignore_index=True)
        old = set(self.stream0["conv_id"])
        tail_convs = sorted(set(self.tails[0]["conv_id"]))
        include = (
            next(c for c in tail_convs if c in old),
            next(c for c in tail_convs if c not in old),
        )
        rng = random.Random(b.seed + 37)
        sample = oracle.sample_conversations(landed, rng, self.N_SAMPLE_TURNS, include)
        want = oracle.kg_triples_oracle_sampled(landed, sample)
        got = TableIO(self.spark, self.swh).read("triples")
        got = triple_set(got.filter(F.col("conv_id").isin(sorted(sample))))
        b.compare("stream triples vs DuckDB oracle (sampled conversations)", want, got)

    def layer_counts(self) -> dict:
        io = TableIO(self.spark, self.wh)
        written = sum(b for b, _ in self.tables.values())
        n_trip = io.read("triples").count()
        mentions = io.read("mentions")
        turn_sets = mentions.select("conv_id", "turn_idx").distinct().count()
        entities = io.read("entities")
        convs = set(self.stream0["conv_id"])
        ratios = []
        for tail, st in zip(self.tails, self.append_stats):
            convs |= set(tail["conv_id"])
            ratios.append(st.get("delta_convs", 0) / len(convs))
        return {
            "mentions.rows": mentions.count(),
            "mentions.input_partitions": extract_mentions(
                self.dense_df, gazetteer=self.gaz
            ).rdd.getNumPartitions(),
            "mentions.turns": self.N_DENSE,
            "linking.nodes": entities.count(),
            "linking.alias_edges": io.read("edges").count(),
            "linking.entities": entities.select("canonical_id").distinct().count(),
            "predicates.turn_sets": turn_sets,
            "predicates.triples": n_trip,
            "predicates.triples_per_turn": n_trip / max(1, turn_sets),
            "tables.bytes_written": written,
            "tables.files_written": sum(f for _, f in self.tables.values()),
            "tables.write_amplification": written / (self.dense_bytes + self.stream_in_bytes),
            "stream.new_batches": sum(s.get("new_batches", 0) for s in self.append_stats),
            "stream.delta_convs": sum(s.get("delta_convs", 0) for s in self.append_stats),
            "stream.changed_surfaces": sum(
                s.get("changed_surfaces", 0) for s in self.append_stats
            ),
            "stream.delta_ratio": statistics.mean(ratios) if ratios else 0.0,
        }


class CorpusDedup(Workload):
    """The dedup family and corpus selection over a documents table of
    base documents and their edited replicas."""

    name = "corpus_dedup"
    N_DOCS = 600
    N_CHECK_FAMILIES = 100
    OPS = (
        ("lsh_candidates", dedup_mod.minhash_lsh_candidates),
        ("simhash_pairs", dedup_mod.simhash_near_pairs),
        ("clusters", dedup_mod.dedup_clusters),
        ("selection", corpus_selection),
    )

    def prepare(self):
        seed = self.b.seed
        self.docs = gen.corpus(seed, self.N_DOCS)
        engine_docs = self.docs.drop(columns=["family"])
        write_parquet(engine_docs, f"{self.dir}/in/documents.parquet")
        self.b.inputs["documents"] = gen.content_hash(engine_docs)
        return len(self.docs)

    def kernel_texts(self):
        return list(self.docs["text"]), TEST_GAZETTEER

    def _run(self, sf_dir: str, out: str) -> dict:
        b = self.b
        secs = {}
        for name, op in self.OPS:
            t0 = time.perf_counter()
            with b.span(f"dedup.{name}"):
                op(b.spark, sf_dir).write.mode("overwrite").parquet(f"{out}/{name}")
            secs[f"dedup.{name}_s"] = time.perf_counter() - t0
            b.attempted += 1
        return secs

    def iteration(self) -> dict:
        return self._run(f"{self.dir}/in", f"{self.dir}/out")

    def summary(self, its: list[dict]) -> dict:
        walls = [sum(it.values()) for it in its]
        wall = statistics.median(walls)
        out = {"wall_s": wall, "rows_per_s": self.N_DOCS / wall}
        for k in its[0]:
            out[k] = statistics.median(it[k] for it in its)
        return out

    def _read(self, name: str):
        return self.spark.read.parquet(f"{self.dir}/out/{name}").toPandas()

    def check(self):
        rng = random.Random(self.b.seed + 41)
        fams = rng.sample(sorted(set(self.docs["family"])), self.N_CHECK_FAMILIES)
        sub = self.docs[self.docs["family"].isin(fams)]
        ids = set(sub["doc_id"])
        ref = oracle.dedup_oracles(sub)

        def inside(df, *cols):
            return df[df[list(cols)].isin(ids).all(axis=1)]

        pairs = ["doc_a", "doc_b"]
        self.b.compare(
            "dd_minhash_lsh_candidates vs DuckDB oracle (document families)",
            oracle.rows(ref["lsh_candidates"], pairs),
            oracle.rows(inside(self._read("lsh_candidates"), *pairs), pairs),
        )
        cols = pairs + ["hamming"]
        self.b.compare(
            "dd_simhash_near_pairs vs DuckDB oracle (document families)",
            oracle.rows(ref["simhash_pairs"], cols),
            oracle.rows(inside(self._read("simhash_pairs"), *pairs), cols),
        )
        cols = ["doc_id", "cluster_id", "cluster_size", "is_survivor"]
        self.b.compare(
            "dd_dedup_clusters vs DuckDB oracle (document families)",
            oracle.rows(ref["clusters"], cols),
            oracle.rows(inside(self._read("clusters"), "doc_id"), cols),
        )
        cols = ["doc_id", "quality"]
        self.b.compare(
            "corpus_selection vs DuckDB oracle (document families)",
            oracle.rows(ref["selection"], cols),
            oracle.rows(inside(self._read("selection"), "doc_id"), cols),
        )

    def layer_counts(self) -> dict:
        cands = self.spark.read.parquet(f"{self.dir}/out/lsh_candidates").count()
        clusters = self.spark.read.parquet(f"{self.dir}/out/clusters")
        verified = self.b.cc_edges.get("dedup.clusters", 0)
        return {
            "dedup.candidate_pairs": cands,
            "dedup.verified_pairs": verified,
            "dedup.clusters": clusters.select("cluster_id").distinct().count(),
            "dedup.candidate_precision": verified / cands if cands else 0.0,
        }


WORKLOADS = {w.name: w for w in (KgBatch, KgIncremental, CorpusDedup)}


def traced_patches(bench) -> list[tuple[object, str, object]]:
    """Module attributes wrapped in spans for a traced iteration."""
    tr = bench.tracer
    cc = components_mod.connected_components

    def traced_cc(edges, *a, **k):
        # the enclosing span names the caller (linking or dedup.*); the
        # input edges are counted after the traced iteration
        bench.cc_inputs.append((tr.current(), edges))
        with tr.span("components"):
            return cc(edges, *a, **k)

    run_stage = manifest_mod.StageRunner.run
    stage_layer = {"mentions": "mentions", "entities": "linking", "edges": "linking",
                   "triples": "predicates"}

    def traced_stage(runner, stage, fp, build, *a, **k):
        built = False

        def recording_build():
            nonlocal built
            built = True
            return build()

        layer = stage_layer.get(stage, "graph")
        with tr.span(f"{layer}.stage_{stage}"):
            out = run_stage(runner, stage, fp, recording_build, *a, **k)
        bench.stage_log.append((stage, built))
        return out

    sm = incremental_mod.streaming_mentions

    def traced_sm(*a, **k):
        with tr.span("stream.drain"):
            q = sm(*a, **k)
            q.awaitTermination()
        return q

    return [
        (components_mod, "connected_components", traced_cc),
        (linking_mod, "connected_components", traced_cc),
        (linking_mod, "canonicalize_nodes", tr.wrap("linking.nodes", linking_mod.canonicalize_nodes)),
        (manifest_mod.StageRunner, "run", traced_stage),
        (incremental_mod, "streaming_mentions", traced_sm),
        (incremental_mod, "incremental_kg_fold", tr.wrap("stream.fold", incremental_mod.incremental_kg_fold)),
    ]
