"""The three workloads: what a pass runs, how its outputs are checked, and
how the traced pass splits it into layers from the outside."""

from __future__ import annotations

import io
import shutil
from contextlib import redirect_stdout
from dataclasses import dataclass
from pathlib import Path

from perfbench import checks, corpora
from perfbench.harness import ROOT


@dataclass
class Ctx:
    """What a pass needs: the session, the job counter, the corpus and
    where its files are."""
    spark: object
    groups: object
    corpus: corpora.Corpus
    data_dir: Path
    work_dir: Path

    def docs(self):
        return self.spark.read.parquet(str(self.data_dir / "documents.parquet"))


def _input_partitions(ctx: Ctx) -> int:
    """`build_stages`' input-size rule: ~4 MB of file per signature task,
    between 1x and 3x the default parallelism."""
    par = ctx.spark.sparkContext.defaultParallelism
    size = (ctx.data_dir / "documents.parquet").stat().st_size
    return max(par, min(3 * par, size // (4 << 20) + 1))


def traced_chain(tracer, ctx: Ctx, df, cfg, exact_first: bool, with_cc: bool):
    """The dedup chain with one span per layer and each stage boundary
    forced by an action over its persisted output. Returns (output,
    probes): the clusters as pandas with `with_cc`, else the persisted
    verified-pairs frame; `probes` feeds `run_probes`. Mirrors `run_dedup`
    (exact_first) and `build_stages(persist=True)`."""
    from distributed_lsh_spark.functions.hashing import band_keys
    from distributed_lsh_spark.functions.signature import with_signatures
    from distributed_lsh_spark.operators.candidates import candidate_pairs
    from distributed_lsh_spark.operators.connected_components import (
        connected_components,
    )
    from distributed_lsh_spark.operators.verify import verify_pairs
    from distributed_lsh_spark.pipeline import exact_collapse

    base = df.select("doc_id", "text")
    n_parts = _input_partitions(ctx)
    exact_edges = None
    if exact_first:
        with tracer.span("exact_collapse") as sp:
            base, exact_edges = exact_collapse(base)
            base, exact_edges = base.persist(), exact_edges.persist()
            sp.counts["rows_out"] = base.count()
            exact_edges.count()
        base = base.repartition(n_parts)
    elif base.rdd.getNumPartitions() < n_parts:
        base = base.repartition(n_parts)
    with tracer.span("signature") as sp:
        sigs = with_signatures(base, cfg).persist()
        sp.counts["docs"] = sigs.count()
    with tracer.span("candidates") as sp:
        pairs = candidate_pairs(band_keys(sigs, cfg), cfg).persist()
        sp.counts["pairs"] = pairs.count()
    with tracer.span("verify") as sp:
        verified = verify_pairs(pairs, sigs.select("doc_id", "text", "shingles"),
                                cfg).persist()
        sp.counts["pairs_out"] = verified.count()
        sp.counts["shuffle_routes"] = int(verify_pairs.last_route == "shuffle")
    probes = {"sigs": sigs}
    if not with_cc:
        return verified, probes
    edges = verified.select("id_a", "id_b")
    if exact_edges is not None:
        edges = edges.unionByName(exact_edges)
    with tracer.span("cc") as sp:
        labels = connected_components(edges).toPandas()
    probes.update(edges=edges, cc_span=sp)
    return labels, probes


def run_probes(tracer, cfg, probes: dict) -> int:
    """Counts no layer call returns, taken after the traced op in a job
    group no span owns: band buckets over the hot-bucket cap, and the CC
    layer's distinct edges and route. Returns the hot-bucket count."""
    from pyspark.sql import functions as F

    from distributed_lsh_spark.functions.hashing import band_keys
    from distributed_lsh_spark.operators.connected_components import (
        DRIVER_CC_MAX_EDGES,
    )

    with tracer.groups.group(f"{tracer.prefix}:probe"):
        hot = (band_keys(probes["sigs"], cfg).groupBy("band_hash").count()
               .where(F.col("count") > cfg.hot_band_cap).count())
        if "edges" in probes:
            e = probes["edges"]
            n = e.where(F.col("id_a") != F.col("id_b")).distinct().count()
            probes["cc_span"].counts.update(
                edges=n, distributed=int(n > DRIVER_CC_MAX_EDGES))
    return hot


class DedupWorkload:
    """`run_dedup` over one generated corpus; outputs checked against the
    planted truth on every pass."""

    def __init__(self, name: str, make, cfg=None) -> None:
        from distributed_lsh_spark.conf import DEFAULT_CONFIG

        self.name = name
        self.make = make
        self.cfg = cfg or DEFAULT_CONFIG
        self.ops = ["run_dedup"]

    def write(self, data_dir: Path, seed: int) -> corpora.Corpus:
        c = self.make(seed)
        corpora.write_parquet(data_dir / "documents.parquet",
                              list(range(c.n_docs)), c.texts)
        return c

    def run_op(self, op: str, ctx: Ctx) -> dict:
        from distributed_lsh_spark.pipeline import run_dedup

        return {"clusters": run_dedup(ctx.docs(), self.cfg).toPandas()}

    def check(self, op: str, out: dict, ctx: Ctx) -> tuple[list[str], dict]:
        recall, problems = checks.check_clusters(out["clusters"], ctx.corpus)
        return problems, {"pair_recall": recall}

    def traced_pass(self, tracer, ctx: Ctx) -> tuple[dict, int]:
        with tracer.span("run_dedup"):
            labels, probes = traced_chain(tracer, ctx, ctx.docs(), self.cfg,
                                          exact_first=True, with_cc=True)
        hot = run_probes(tracer, self.cfg, probes)
        return {"run_dedup": {"clusters": labels}}, hot

    def oracle_problems(self, outs: dict, ctx: Ctx) -> list[str]:
        return []


# chain operations -> the rows (entry_queries.QUERIES names) each runs
CHAIN_ROWS = {
    "flagship": ["minhash_lsh_dup_pairs"],
    "clusters": ["dedup_clusters"],
    "funnel": ["dedup_funnel"],
    "snapshot": ["dedup_against_corpus", "incremental_clusters"],
    "ann": ["ann_topk"],
}
CHAIN_LAYER = {"funnel": "funnel", "snapshot": "snapshot", "ann": "ann",
               "ckpt_dedup": "checkpoint"}


class ChainWorkload:
    """The dedup-chain rows back to back in one long-lived session, plus
    the CLI `dedup` verb writing and resuming checkpointed stages."""

    name = "chain"
    ops = [*CHAIN_ROWS, "ckpt_dedup"]

    def __init__(self, n_docs: int) -> None:
        from distributed_lsh_spark.conf import DEFAULT_CONFIG

        self.n_docs = n_docs
        self.cfg = DEFAULT_CONFIG
        self._passes = 0

    def write(self, data_dir: Path, seed: int) -> corpora.Corpus:
        c = corpora.chain_pages(seed, self.n_docs)
        ids = list(range(c.n_docs))
        corpora.write_parquet(data_dir / "documents.parquet", ids, c.texts)
        # the held-out batch for `dedup --against`: every 10th doc
        arch = [i for i in ids if i % 10]
        batch = [i for i in ids if i % 10 == 0]
        corpora.write_parquet(data_dir / "archive.parquet", arch,
                              [c.texts[i] for i in arch])
        corpora.write_parquet(data_dir / "batch.parquet", batch,
                              [c.texts[i] for i in batch])
        c.extra["archive_ids"] = set(arch)
        return c

    def run_op(self, op: str, ctx: Ctx) -> dict:
        if op == "ckpt_dedup":
            return self._ckpt_dedup(ctx)
        from distributed_lsh_spark.entry_queries import QUERIES

        return {row: QUERIES[row](ctx.spark, str(ctx.data_dir)).toPandas()
                for row in CHAIN_ROWS[op]}

    def _ckpt_dedup(self, ctx: Ctx) -> dict:
        """`dedup` on the archive (5 checkpointed stages), then `dedup
        --against --against-sigs --merge-labels` on the held-out batch.
        Each pass gets a fresh run-id and output dir, so no stage is ever
        served from an earlier pass's checkpoint."""
        from distributed_lsh_spark import cli

        self._passes += 1
        run_id = f"p{self._passes}"
        out = ctx.work_dir / "ckpt" / run_id
        shutil.rmtree(out, ignore_errors=True)
        d = ctx.data_dir
        with redirect_stdout(io.StringIO()):
            cli.main(["dedup", "--input", str(d / "archive.parquet"),
                      "--output", str(out / "archive"), "--run-id", run_id])
            stages = out / "archive" / run_id
            cli.main(["dedup", "--input", str(d / "batch.parquet"),
                      "--output", str(out / "batch"), "--run-id", run_id,
                      "--against", str(d / "archive.parquet"),
                      "--against-sigs", str(stages / "signatures" / "data"),
                      "--merge-labels", str(stages / "clusters" / "data")])
        return {"_dir": out, "_run_id": run_id}

    def _ckpt_collect(self, out: dict, ctx: Ctx) -> dict:
        """Read the checkpointed results back, measure what was written and
        delete it (outside the timed op)."""
        d, run_id = out.pop("_dir"), out.pop("_run_id")
        read = ctx.spark.read.parquet
        out["ckpt_clusters"] = read(
            str(d / "archive" / run_id / "clusters" / "data")).toPandas()
        out["ckpt_labels"] = read(
            str(d / "batch" / run_id / "updated_labels" / "data")).toPandas()
        out["_bytes"] = sum(p.stat().st_size for p in d.rglob("*")
                            if p.is_file())
        ctx.spark.sql(f"DROP TABLE IF EXISTS dedup_ckpt_{run_id}_signatures")
        shutil.rmtree(d, ignore_errors=True)
        return out

    def check(self, op: str, out: dict, ctx: Ctx) -> tuple[list[str], dict]:
        c, vals = ctx.corpus, {}
        problems = []
        if op == "ckpt_dedup":
            out = self._ckpt_collect(out, ctx)
            vals["bytes_written"] = out.pop("_bytes")
            arch = c.extra["archive_ids"]
            sub = corpora.Corpus(
                texts=[], must_not=[p for p in c.must_not if set(p) <= arch],
                groups=[[d for d in g if d in arch] for g in c.groups])
            _, problems = checks.check_clusters(out["ckpt_clusters"], sub)
        if op == "clusters":
            vals["pair_recall"], problems = checks.check_clusters(
                out["dedup_clusters"], c)
        vals["digests"] = {k: checks.digest(v) for k, v in out.items()}
        return problems, vals

    def oracle_problems(self, outs: dict, ctx: Ctx) -> list[str]:
        rows = {row: outs[op][row] for op, rs in CHAIN_ROWS.items()
                if op in outs for row in rs}
        return checks.oracle_problems(ROOT, ctx.data_dir, rows)

    def traced_pass(self, tracer, ctx: Ctx) -> tuple[dict, int]:
        from pyspark.sql import functions as F

        outs, hot = {}, 0
        with tracer.span("flagship"):
            v, probes = traced_chain(tracer, ctx, ctx.docs(), self.cfg,
                                     exact_first=False, with_cc=False)
            outs["flagship"] = {"minhash_lsh_dup_pairs": v.select(
                "id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
                .orderBy("id_a", "id_b").toPandas()}
        hot += run_probes(tracer, self.cfg, probes)
        with tracer.span("clusters"):
            labels, probes = traced_chain(tracer, ctx, ctx.docs(), self.cfg,
                                          exact_first=True, with_cc=True)
            outs["clusters"] = {"dedup_clusters": labels}
        hot += run_probes(tracer, self.cfg, probes)
        for op in ("funnel", "snapshot", "ann", "ckpt_dedup"):
            with tracer.span(op), tracer.span(CHAIN_LAYER[op]):
                outs[op] = self.run_op(op, ctx)
        return outs, hot


def make(name: str):
    from distributed_lsh_spark.conf import DEFAULT_CONFIG

    if name == "bulk":
        return DedupWorkload("bulk", lambda s: corpora.pages(s, BULK_DOCS))
    if name == "dense_dups":
        return DedupWorkload(
            "dense_dups",
            lambda s: corpora.dense_dups(s, DENSE_DOCS, DENSE_HOT),
            DEFAULT_CONFIG.with_(hot_band_cap=DENSE_CAP))
    if name == "chain":
        return ChainWorkload(CHAIN_DOCS)
    raise SystemExit(f"unknown workload {name!r}")


BULK_DOCS = 30_000
DENSE_DOCS = 4_000
DENSE_HOT = 1_500
DENSE_CAP = 1_350
CHAIN_DOCS = 1_000
