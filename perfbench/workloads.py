"""The two workloads: one timed pass, one traced pass, and the output check.

A pass returns its outputs as pandas frames, collected on the driver as the
job's sink; the check compares them after the timed loop, so checking costs
neither set-up nor pass time.
"""

from __future__ import annotations

import functools
import os

import pandas as pd
from pyspark.sql import functions as F

from simhash_text_dedup_spark.config import DedupConfig
from simhash_text_dedup_spark.fingerprint_core import simhash_one
from simhash_text_dedup_spark.operators.cluster import connected_components
from simhash_text_dedup_spark.operators.pairs import banded, exact_groups, hot_buckets, near_pairs
from simhash_text_dedup_spark.operators.selection import assign_actions_cc
from simhash_text_dedup_spark.operators.spam import spam_tag, split_spam
from simhash_text_dedup_spark.plans.incremental import (
    candidate_pairs,
    loser_lists_cc,
    run_incremental,
    unload_list,
)
from simhash_text_dedup_spark.plans.pipeline import (
    fingerprint_stage,
    prepare_documents,
    run_dedup,
    spread_input,
)
from simhash_text_dedup_spark.reference_impl import Doc, reference_dedup
from simhash_text_dedup_spark.sources.snapshots import SnapshotTable

import inputs

CFG = DedupConfig(spam_threshold=inputs.SPAM_THRESHOLD)
SPOT_DOCS = 32


def cut(df):
    """Materialize now, so the enclosing span times only its own layer."""
    return df.localCheckpoint(eager=True)


def _pdf(df, *cols) -> pd.DataFrame:
    return (df.select(*cols) if cols else df).toPandas()


def doc_ids(spark, rows: pd.DataFrame) -> pd.Series:
    """The pipeline's doc_id for input rows, computed by the pipeline."""
    keyed = rows[["repo", "path", "commit"]].reset_index(drop=True)
    keyed["content"] = ""
    keyed["_row"] = range(len(keyed))
    got = _pdf(prepare_documents(spark.createDataFrame(keyed)), "_row", "doc_id")
    return got.set_index("_row")["doc_id"].sort_index().set_axis(rows.index)


def spot_sample(spark, docs: pd.DataFrame, seed: int) -> dict[int, int]:
    """{doc_id: simhash_one(content)} for a seeded sample of input docs."""
    sample = docs.sample(n=min(SPOT_DOCS, len(docs)), random_state=seed % 2**32)
    ids = doc_ids(spark, sample)
    return {int(ids[i]): simhash_one(sample.content[i], CFG.shingle_width) for i in sample.index}


def _cluster_counts(cc, edges: int) -> dict:
    comp = _pdf(cc, "cluster_id").cluster_id.value_counts()
    return {
        "cluster.edges": edges,
        "cluster.components": len(comp),
        "cluster.max_component": int(comp.max()) if len(comp) else 0,
    }


def _spot_problems(spot: dict[int, int], fps: pd.DataFrame) -> list[str]:
    got = dict(zip(fps.doc_id.tolist(), fps.fingerprint.tolist()))
    bad = [d for d, fp in spot.items() if got.get(d) != fp]
    return [f"{len(bad)} of {len(spot)} spot-checked fingerprints differ from simhash_one"] if bad else []


# ---------------------------------------------------------------- batch_code
class BatchCode:
    """Full self-dedup of a fresh corpus with the generator's family mix."""

    name = "batch_code"
    layers = ("sources.read", "fingerprint", "spam", "pairs", "cluster", "selection", "sink")
    # layers whose shuffle and task figures come from the event log
    spark_layers = ("spam", "pairs")

    def __init__(self, spark, input_dir: str, seed: int, work_dir: str):
        self.spark, self.seed = spark, seed
        self.docs_path = os.path.join(input_dir, "docs")
        self.docs = spark.read.parquet(self.docs_path)
        self.n_docs = self.docs.count()

    def run_pass(self) -> dict:
        res = run_dedup(self.spark, self.docs, CFG)
        return self._sink(res.fingerprints, res.spam_kills, res.pairs, res.clusters)

    def _sink(self, fps, kills, pairs, clusters) -> dict:
        return {
            "fps": _pdf(fps, "doc_id", "fingerprint", "score", "is_new"),
            "kills": _pdf(kills, "doc_id", "ref_doc_id"),
            "pairs": _pdf(pairs, "a_id", "b_id", "hamming", "kind"),
            "clusters": _pdf(clusters, "doc_id", "cluster_id", "action"),
        }

    def traced_pass(self, tr) -> tuple[dict, dict]:
        """run_dedup's layers called one by one, each input cut eagerly."""
        spark = self.spark
        with tr.span("pass"):
            with tr.span("sources.read"):
                docs = cut(spread_input(spark.read.parquet(self.docs_path), spark.sparkContext.defaultParallelism))
            with tr.span("fingerprint"):
                fps = cut(fingerprint_stage(prepare_documents(docs), CFG))
            with tr.span("spam"):
                tagged = cut(spam_tag(fps.drop("content_sha256")))
                survivors, kills = split_spam(tagged, CFG.spam_threshold)
            with tr.span("pairs"):
                distinct, exact = exact_groups(survivors)
                pairs = cut(exact.unionByName(near_pairs(distinct, CFG)))
            with tr.span("cluster"):
                cc = cut(connected_components(pairs.select("a_id", "b_id"), CFG.cc_max_iter, CFG.cc_driver_threshold))
            with tr.span("selection"):
                meta = survivors.select("doc_id", "score", "is_new").join(cc, "doc_id", "left")
                meta = meta.withColumn("cluster_id", F.coalesce("cluster_id", "doc_id"))
                clusters = cut(assign_actions_cc(meta))
            with tr.span("sink"):
                out = self._sink(fps, kills, pairs, clusters)
        with tr.span("trace.counts"):
            b = banded(distinct, CFG)
            sizes = b.groupBy("band", "band_key").count()
            candidates = sizes.select(F.sum(F.col("count") * (F.col("count") - 1) / 2)).first()[0] or 0
            hot = hot_buckets(b, CFG).count()
        verified = int((out["pairs"].kind == "near").sum())
        counts = {
            "fingerprint.rows": len(out["fps"]),
            "spam.kills": len(out["kills"]),
            "pairs.candidates": int(candidates),
            "pairs.verified": verified,
            "pairs.yield": verified / candidates if candidates else 0.0,
            "pairs.hot_buckets": hot,
            **_cluster_counts(cc, len(out["pairs"])),
            "selection.deletes": int((out["clusters"].action == "delete").sum()),
        }
        return out, counts

    def checker(self, first: dict) -> "BatchCheck":
        docs = pd.read_parquet(self.docs_path)
        return BatchCheck(first, spot_sample(self.spark, docs, self.seed))


class BatchCheck:
    """Every pass against reference_dedup run on the first pass's fingerprints."""

    def __init__(self, first: dict, spot: dict[int, int]):
        self.spot = spot
        fps = first["fps"]
        self.fps = dict(zip(fps.doc_id.tolist(), fps.fingerprint.tolist()))
        ref = reference_dedup(
            [Doc(int(r.doc_id), int(r.fingerprint), float(r.score), bool(r.is_new)) for r in fps.itertuples()],
            hamming_k=CFG.hamming_k, n_bands=CFG.n_bands, band_bits=CFG.band_bits,
            spam_threshold=CFG.spam_threshold, selection=CFG.selection,
        )
        self.kills = set(ref.spam_kills)
        self.clusters = ref.clusters
        self.actions = ref.actions
        # the pipeline keeps one representative per fingerprint (its least
        # doc_id): members hang off it as 'exact' edges, and near pairs join
        # representatives
        rep: dict[int, int] = {}
        for d in sorted(ref.clusters):
            rep.setdefault(self.fps[d], d)
        self.pairs = {(rep[self.fps[d]], d, 0, "exact") for d in ref.clusters if rep[self.fps[d]] != d}
        for a, b in ref.pairs:
            fa, fb = self.fps[a], self.fps[b]
            if fa != fb:
                ra, rb = sorted((rep[fa], rep[fb]))
                self.pairs.add((ra, rb, bin((fa ^ fb) & (2**64 - 1)).count("1"), "near"))

    def problems(self, out: dict) -> list[str]:
        p = _spot_problems(self.spot, out["fps"])
        if dict(zip(out["fps"].doc_id.tolist(), out["fps"].fingerprint.tolist())) != self.fps:
            p.append("fingerprints differ from the first pass")
        if set(zip(out["kills"].doc_id.tolist(), out["kills"].ref_doc_id.tolist())) != self.kills:
            p.append("spam kills differ from the reference")
        pr = out["pairs"]
        if set(zip(pr.a_id.tolist(), pr.b_id.tolist(), pr.hamming.tolist(), pr.kind.tolist())) != self.pairs:
            p.append("pairs differ from the reference")
        cl = out["clusters"]
        if dict(zip(cl.doc_id.tolist(), cl.cluster_id.tolist())) != self.clusters:
            p.append("clusters differ from the reference")
        if dict(zip(cl.doc_id.tolist(), cl.action.tolist())) != self.actions:
            p.append("actions differ from the reference")
        return p


# ---------------------------------------------------------------- incremental
class Incremental:
    """One crawl round against a stored base snapshot, then its commit."""

    name = "incremental"
    layers = (
        "sources.read", "fingerprint", "incremental.unload", "spam", "incremental.candidates",
        "cluster", "incremental.losers", "sources.merge", "sink",
    )
    spark_layers = ("spam", "incremental.unload", "incremental.candidates", "incremental.losers")

    def __init__(self, spark, input_dir: str, seed: int, work_dir: str):
        self.spark, self.seed, self.input_dir = spark, seed, input_dir
        self.docs_path = os.path.join(input_dir, "batch")
        self.batch = spark.read.parquet(self.docs_path)
        self.n_docs = self.batch.count()
        prepared = prepare_documents(spark.read.parquet(os.path.join(input_dir, "base"))).withColumn(
            "entity_id", F.xxhash64("repo", "path")
        )
        base = fingerprint_stage(prepared, CFG).join(prepared.select("doc_id", "entity_id"), "doc_id")
        self.table = SnapshotTable(spark, os.path.join(work_dir, "corpus"))
        self.base_snapshot = self.table.overwrite(base.select("doc_id", "entity_id", "fingerprint", "score"))

    def _commit(self, new_fps, kills, delete_list) -> int:
        # what jobs/run_incremental.py commits: spam kills and delete-list
        # losers never load
        to_commit = (
            new_fps.join(kills.select("doc_id"), "doc_id", "left_anti")
            .join(delete_list.select("doc_id"), "doc_id", "left_anti")
            .select("doc_id", "entity_id", "fingerprint", "score")
        )
        return self.table.merge(to_commit, key_cols=["entity_id"])

    def _sink(self, new_fps, unload, kills, pairs, delete_list, modify_list, snap: int) -> dict:
        lists = {"unload": unload, "kills": kills, "delete": delete_list, "modify": modify_list}
        tagged = [df.select("doc_id", F.lit(k).alias("list")) for k, df in lists.items()]
        ids = _pdf(functools.reduce(lambda a, b: a.unionByName(b), tagged))
        return {
            "fps": _pdf(new_fps, "doc_id", "entity_id", "fingerprint"),
            "pairs": _pdf(pairs, "a_id", "b_id", "hamming", "a_is_new", "b_is_new"),
            "snapshot_rows": next(s["rows"] for s in self.table.snapshots() if s["id"] == snap),
            **{k: ids[ids.list == k] for k in lists},
        }

    def run_pass(self) -> dict:
        # every pass probes the same base snapshot; the commit merges the same
        # batch into the head, which rewrites the whole table each time
        res = run_incremental(self.spark, self.batch, self.table.read(self.base_snapshot), CFG)
        snap = self._commit(res.new_fingerprints, res.spam_kills, res.delete_list)
        return self._sink(res.new_fingerprints, res.unload, res.spam_kills, res.pairs,
                          res.delete_list, res.modify_list, snap)

    def traced_pass(self, tr) -> tuple[dict, dict]:
        """run_incremental's layers called one by one, each input cut eagerly."""
        spark = self.spark
        with tr.span("pass"):
            with tr.span("sources.read"):
                base = cut(self.table.read(self.base_snapshot))
                new_docs = cut(spread_input(spark.read.parquet(self.docs_path), spark.sparkContext.defaultParallelism))
            with tr.span("fingerprint"):
                prepared = prepare_documents(new_docs).withColumn("entity_id", F.xxhash64("repo", "path"))
                new_fps = cut(fingerprint_stage(prepared, CFG).join(prepared.select("doc_id", "entity_id"), "doc_id"))
            with tr.span("incremental.unload"):
                base_fps = base.select("doc_id", "entity_id", "fingerprint", "score", F.lit(False).alias("is_new"))
                unload = cut(unload_list(new_fps, base_fps))
            with tr.span("spam"):
                tagged = cut(spam_tag(new_fps.drop("content_sha256")))
                survivors, kills = split_spam(tagged, CFG.spam_threshold)
            with tr.span("incremental.candidates"):
                loaded = base_fps.select("entity_id").distinct().withColumn("is_loaded", F.lit(True))
                new_side = survivors.join(loaded, "entity_id", "left").select(
                    "doc_id", "entity_id", "fingerprint", F.lit(True).alias("is_new"),
                    F.coalesce("is_loaded", F.lit(False)).alias("is_loaded"), "score",
                )
                live = base_fps.join(new_fps.select("entity_id").distinct(), "entity_id", "left_anti")
                all_side = new_side.unionByName(live.select(
                    "doc_id", "entity_id", "fingerprint", "is_new", F.lit(True).alias("is_loaded"), "score",
                ))
                pairs = cut(candidate_pairs(new_side, all_side, CFG))
            with tr.span("cluster"):
                cc = cut(connected_components(pairs.select("a_id", "b_id"), CFG.cc_max_iter, CFG.cc_driver_threshold))
            with tr.span("incremental.losers"):
                dels, mods = (cut(x) for x in loser_lists_cc(pairs))
            with tr.span("sources.merge"):
                snap = self._commit(new_fps, kills, dels)
            with tr.span("sink"):
                out = self._sink(new_fps, unload, kills, pairs, dels, mods, snap)
        written = os.path.join(self.table.path, self.table.snapshots()[-1]["dirs"][0])
        counts = {
            "fingerprint.rows": len(out["fps"]),
            "spam.kills": len(out["kills"]),
            "incremental.pairs": len(out["pairs"]),
            **_cluster_counts(cc, len(out["pairs"])),
            "sources.merge_write_mb": sum(
                os.path.getsize(os.path.join(written, f)) for f in os.listdir(written)
            ) / 2**20,
        }
        return out, counts

    def checker(self, first: dict) -> "IncrementalCheck":
        roles = pd.read_parquet(os.path.join(self.input_dir, "roles.parquet"))
        roles["doc_id"] = doc_ids(self.spark, roles)
        batch = pd.read_parquet(self.docs_path)
        base_entities = set(_pdf(self.table.read(self.base_snapshot), "entity_id").entity_id.tolist())
        return IncrementalCheck(first, roles, base_entities, spot_sample(self.spark, batch, self.seed))


def _ids(df: pd.DataFrame) -> set[int]:
    return set(df.doc_id.tolist())


def _pair_set(df: pd.DataFrame) -> set[tuple]:
    return set(zip(df.a_id.tolist(), df.b_id.tolist(), df.hamming.tolist()))


class IncrementalCheck:
    """The batch's planted outcomes, the pair domain, and the commit's size."""

    def __init__(self, first: dict, roles: pd.DataFrame, base_entities: set[int], spot: dict[int, int]):
        self.spot = spot
        self.role = {r: set(roles.doc_id[roles.role == r].tolist()) for r in roles.role.unique()}
        self.base_entities = base_entities
        self.first = {k: _ids(first[k]) for k in ("unload", "kills", "delete", "modify")}
        self.first_pairs = _pair_set(first["pairs"])

    def problems(self, out: dict) -> list[str]:
        p = _spot_problems(self.spot, out["fps"])
        unload, kills, delete = _ids(out["unload"]), _ids(out["kills"]), _ids(out["delete"])
        if not self.role["unchanged"] <= unload:
            p.append("an unchanged re-crawl is missing from unload")
        if unload & (self.role["copy"] | self.role["fresh"]):
            p.append("a doc of a new entity landed in unload")
        if not self.role["copy"] <= delete | kills:
            p.append("a copy under a new path is missing from the delete list")
        pr = out["pairs"]
        if not (pr.a_is_new | pr.b_is_new).all():
            p.append("an old x old pair was compared")
        if len(pr) and (pr.hamming.max() > CFG.hamming_k or (pr.a_id == pr.b_id).any()):
            p.append("a pair is beyond the Hamming radius or pairs a doc with itself")
        gone = kills | delete
        committed = {e for d, e in zip(out["fps"].doc_id, out["fps"].entity_id) if d not in gone}
        if out["snapshot_rows"] != len(self.base_entities | committed):
            p.append("the committed snapshot has the wrong row count")
        for k, ids in self.first.items():
            if _ids(out[k]) != ids:
                p.append(f"{k} differs from the first pass")
        if _pair_set(pr) != self.first_pairs:
            p.append("pairs differ from the first pass")
        return p


WORKLOADS = {"batch_code": BatchCode, "incremental": Incremental}
