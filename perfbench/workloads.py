"""The benchmark workloads: seeded inputs, one op each, and the checks
that every op's output is correct.

Each workload is built from a seed alone and hands kgtm only the generated
tables. An op returns the number of input items it processed; a wrong
output raises :class:`Mismatch`, which the harness counts as a failed op.
"""

from __future__ import annotations

import time
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import Observation
from pyspark.sql import functions as F

from kgtm.curation import curate_documents
from kgtm.dedup import dedup_clusters, ngram_jaccard_pairs
from kgtm.extract import extract_triples
from kgtm.link import link_surfaces
from kgtm.materialize import read_triples, write_triples
from kgtm.normalize import parse_iri_cols
from kgtm.pipeline import build_triples
from kgtm.resolve import resolve_links
from kgtm.schemas import ONTOLOGY_INDEX_SCHEMA, ONTOLOGY_SNAPSHOTS_SCHEMA
from kgtm.synth import SynthConfig, generate
from kgtm.textstats import STOPWORDS_EN, quality_features

TRIPLE_KEY = ["conv_id", "subj", "pred", "obj"]

#: kg_append batch size: whole conversations up to at least this many turns.
APPEND_BATCH_TURNS = 2_000
#: prep_dedup corpus size and planted shares (the rest are unique documents)
PREP_DOCS = 2_000
PREP_SHARES = {"low-quality": 0.10, "exact-dup": 0.10, "near-dup": 0.10}


class Mismatch(Exception):
    """An op's output differs from what the inputs determine."""


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def observed(df, *aggs):
    """(``df`` with ``aggs`` computed in the same pass as the action that
    forces it, the Observation that holds them once it has run)."""
    obs = Observation()
    return df.observe(obs, *aggs), obs


def signed(df, cols: list[str], *extra):
    """``df`` observed for an order-independent output signature: row count
    plus two hash aggregates over ``cols``, and any ``extra`` aggregates."""
    h = F.xxhash64(*[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols])
    return observed(
        df,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(h, F.lit(2_147_483_647))).alias("h_sum"),
        F.bit_xor(h).alias("h_xor"),
        *extra,
    )


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def kg_corpus(seed: int, min_turns: int):
    """Seeded synth corpus cut to whole conversations holding at least
    ``min_turns`` turns: (transcripts, index, snapshots, golden), pandas.
    Cutting on turns, not conversations, keeps the work per seed steady
    under the Zipf conversation lengths."""
    n_convs = max(8, min_turns // 16)
    while True:
        tr, index, snaps, golden = generate(SynthConfig(seed=seed, n_convs=n_convs))
        per_conv = tr.groupby("conv_id").size().sort_index().cumsum()
        if per_conv.iloc[-1] >= min_turns:
            break
        n_convs = n_convs * 3 // 2
    keep = per_conv.index[: int((per_conv < min_turns).sum()) + 1]
    tr = tr[tr["conv_id"].isin(keep)].reset_index(drop=True)
    golden = golden[golden["conv_id"].isin(keep)].reset_index(drop=True)
    return tr, index, snaps, golden


def triple_set(rows) -> set[tuple]:
    return {tuple(r[c] for c in TRIPLE_KEY) for r in rows}


def check_pr(got: set[tuple], golden: pd.DataFrame) -> None:
    want = set(golden[TRIPLE_KEY].itertuples(index=False, name=None))
    if got != want:
        raise Mismatch(
            f"P/R below 1.0: {len(got - want)} unexpected, "
            f"{len(want - got)} missing of {len(want)} golden triples"
        )


class Workload:
    """One workload: ``setup`` makes the inputs, ``op(k)`` runs op ``k`` and
    returns the items it processed, ``traced_op(k, layers)`` runs it with
    per-layer timing, and ``finish`` runs the end-of-run checks."""

    def __init__(self, spark, run_dir: Path, seed: int):
        self.spark = spark
        self.run_dir = run_dir
        self.seed = seed
        self.ref = None  # the output signature of op 0

    def check_signature(self, obs) -> dict:
        sig = obs.get
        if self.ref is None:
            self.ref = sig
        elif sig != self.ref:
            raise Mismatch(f"output signature {sig} != {self.ref}")
        return sig

    def group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)

    def finish(self) -> None:
        pass


class KgAppend(Workload):
    """Incremental ingest: build the next disjoint batch against driver-local
    dictionaries (plan-literal path), commit it to a store made fresh for the
    run, and read the new head back."""

    name = "kg_append"

    def __init__(self, spark, run_dir: Path, seed: int, n_batches: int):
        super().__init__(spark, run_dir, seed)
        self.n_batches = n_batches

    def setup(self) -> None:
        tr, index, snaps, self.golden = kg_corpus(
            self.seed, APPEND_BATCH_TURNS * self.n_batches
        )
        per_conv = tr.groupby("conv_id").size().sort_index()
        batch_of = (per_conv.cumsum().shift(fill_value=0) // APPEND_BATCH_TURNS).astype(int)
        self.batches = []  # (parquet dir, turns, conv_ids)
        for b, convs in batch_of.groupby(batch_of):
            part = tr[tr["conv_id"].isin(convs.index)]
            path = self.run_dir / "inputs" / f"batch-{b:03d}"
            path.mkdir(parents=True)
            part.to_parquet(path / "part-00000.parquet", index=False)
            self.batches.append((str(path), len(part), set(convs.index)))
        self.index = self.spark.createDataFrame(index, ONTOLOGY_INDEX_SCHEMA)
        self.snaps = self.spark.createDataFrame(snaps, ONTOLOGY_SNAPSHOTS_SCHEMA)
        self.store = str(self.run_dir / "store")
        self.committed = 0  # triples in the store
        self.appended: set[str] = set()

    def exhausted(self, k: int) -> bool:
        return k >= len(self.batches)

    def _commit(self, k: int, triples) -> tuple[int, dict]:
        """(triples written, commit record) of committing batch ``k``."""
        out, obs = signed(triples, TRIPLE_KEY)
        commit = write_triples(out, self.store)
        n = obs.get["n"]
        self.committed += n
        self.appended |= self.batches[k][2]
        return n, commit

    def _check_head(self, k: int) -> None:
        n = read_triples(self.spark, self.store).count()
        if n != self.committed:
            raise Mismatch(f"head after commit {k} holds {n} rows, expected {self.committed}")

    def op(self, k: int) -> int:
        path, turns, _ = self.batches[k]
        tr = self.spark.read.parquet(path)
        self._commit(k, build_triples(tr, self.index, self.snaps))
        self._check_head(k)
        return turns

    def trace_prefixes(self, k: int, tr, layers: dict) -> None:
        """Force extract, then the distinct surfaces linked, then resolved,
        each on its own; a layer's time is its prefix minus the one before."""
        triples = extract_triples(tr).select(*TRIPLE_KEY)
        self.group(f"op{k}.extract")
        ext, obs = observed(triples, F.count(F.lit(1)).alias("n"))
        _, t_ext = timed(lambda: force(ext))
        layers["extract.s"].append(t_ext)
        layers["extract.triples_out"].append(obs.get["n"])

        # the distinct http triple terms, derived as build_triples derives them
        empty = F.array().cast("array<string>")
        surfaces = (
            triples.select(
                F.explode(
                    F.concat(
                        F.when(F.col("subj").startswith("http"), F.array("subj")).otherwise(empty),
                        F.when(F.col("obj").startswith("http"), F.array("obj")).otherwise(empty),
                    )
                ).alias("surface")
            )
            .distinct()
            .select("surface", *parse_iri_cols("surface"))
        )
        linked = link_surfaces(surfaces, self.index)
        self.group(f"op{k}.link")
        lk, obs = observed(
            linked,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("is_linked").cast("long")).alias("linked"),
        )
        _, t_link = timed(lambda: force(lk))
        m = obs.get
        layers["link.s"].append(t_link - t_ext)
        layers["link.surfaces_in"].append(m["n"])
        layers["link.linked_ratio"].append((m["linked"] or 0) / max(m["n"], 1))

        resolved = resolve_links(linked, self.snaps)
        self.group(f"op{k}.resolve")
        rs, obs = observed(
            resolved,
            F.sum(F.col("is_linked").cast("long")).alias("linked"),
            F.sum((F.col("is_linked") & F.col("snapshot_iri").isNotNull()).cast("long")).alias("snap"),
        )
        _, t_res = timed(lambda: force(rs))
        m = obs.get
        layers["resolve.s"].append(t_res - t_link)
        layers["resolve.snapshot_ratio"].append((m["snap"] or 0) / max(m["linked"] or 0, 1))

    def traced_op(self, k: int, layers: dict) -> int:
        path, turns, _ = self.batches[k]
        tr = self.spark.read.parquet(path)
        self.trace_prefixes(k, tr, layers)
        # the pipeline prefix: the build forced through the noop sink
        self.group(f"op{k}.pipeline")
        out = build_triples(tr, self.index, self.snaps)
        _, t_join = timed(lambda: force(out))
        layers["pipeline.join_s"].append(t_join)
        self.group(f"op{k}.op")
        t0 = time.time()
        out, t_call = timed(lambda: build_triples(tr, self.index, self.snaps))
        (n_out, commit), t_write = timed(lambda: self._commit(k, out))
        _, t_read = timed(lambda: self._check_head(k))
        layers["op_span"].append((t0, time.time()))
        layers["pipeline.call_s"].append(t_call)
        layers["pipeline.triples_out"].append(n_out)
        layers["materialize.write_s"].append(t_write)
        layers["materialize.read_s"].append(t_read)
        files = [
            p for p in (Path(self.store) / "triples" / f"commit={commit['commit_id']}").rglob("*")
            if p.is_file() and not p.name.startswith((".", "_"))
        ]
        layers["materialize.files_written"].append(len(files))
        layers["materialize.bytes_written"].append(sum(p.stat().st_size for p in files))
        return turns

    def finish(self) -> None:
        """The store holds exactly the golden triples of the appended
        conversations."""
        rows = read_triples(self.spark, self.store).select(*TRIPLE_KEY).distinct().collect()
        check_pr(triple_set(rows), self.golden[self.golden["conv_id"].isin(self.appended)])


# --------------------------------------------------------------------------
# prep_dedup
# --------------------------------------------------------------------------

_SYLLABLES = "ka lo mi nu pe ri so ta vu xe zo ba".split()
WORDS = [a + b + c for a in _SYLLABLES for b in _SYLLABLES for c in ("n", "r", "s")]
_JUNK = list("#$%&*+<=>@^|~!?")


def doc_corpus(seed: int, n_docs: int) -> pd.DataFrame:
    """(doc_id, text, planted) documents. ``planted`` is the drop bucket
    curation must assign: None for a unique document, else 'low-quality'
    (short punctuation soup), 'exact-dup' (a copy of an earlier unique
    document) or 'near-dup' (a copy with one word replaced and one unique
    token inserted: about 0.8 word-trigram Jaccard with its source)."""
    rng = np.random.default_rng(seed)
    kinds = rng.choice(
        [None, *PREP_SHARES],
        size=n_docs,
        p=[1 - sum(PREP_SHARES.values()), *PREP_SHARES.values()],
    )
    kinds[0] = None  # copies need an earlier unique document
    unique: list[list[str]] = []
    rows = []
    for i, kind in enumerate(kinds):
        if kind == "low-quality":
            words = ["".join(rng.choice(_JUNK, size=int(rng.integers(2, 6)))) for _ in range(int(rng.integers(3, 8)))]
        elif kind == "exact-dup":
            words = unique[int(rng.integers(0, len(unique)))]
        elif kind == "near-dup":
            words = list(unique[int(rng.integers(0, len(unique)))])
            pos = int(rng.integers(0, len(words)))
            words[pos] = words[pos] + "q"  # 'q' appears in no vocabulary word
            words.insert(int(rng.integers(0, len(words))), f"u{i}")
        else:
            n = int(rng.integers(40, 90))
            words = [
                STOPWORDS_EN[s] if stop else WORDS[w]
                for stop, s, w in zip(
                    rng.random(n) < 0.25,
                    rng.integers(0, len(STOPWORDS_EN), n),
                    rng.integers(0, len(WORDS), n),
                )
            ]
            unique.append(words)
        rows.append((i, " ".join(words), kind))
    return pd.DataFrame(rows, columns=["doc_id", "text", "planted"])


LEDGER_COLS = ["doc_id", "quality_score", "kept", "drop_reason"]


class PrepDedup(Workload):
    """Corpus curation over a seeded corpus with planted duplicates, near
    duplicates and low-quality documents, forced through the noop sink."""

    name = "prep_dedup"

    def setup(self) -> None:
        corpus = doc_corpus(self.seed, PREP_DOCS)
        path = self.run_dir / "inputs" / "docs"
        path.mkdir(parents=True)
        corpus[["doc_id", "text"]].to_parquet(path / "part-00000.parquet", index=False)
        self.planted = dict(zip(corpus["doc_id"], corpus["planted"]))
        self.docs = self.spark.read.parquet(str(path))

    def _curate(self):
        """The op's ledger, observed for its signature, the id sum, rows
        whose ``kept`` disagrees with their drop bucket, and rows kept."""
        return signed(
            curate_documents(self.docs),
            LEDGER_COLS,
            F.sum("doc_id").alias("id_sum"),
            F.sum((F.col("kept") != F.col("drop_reason").isNull()).cast("long")).alias("bad_bucket"),
            F.sum(F.col("kept").cast("long")).alias("kept"),
        )

    def _check_rows(self, obs) -> dict:
        """One row per document, one drop bucket per row, and the same
        signature as op 0."""
        sig = self.check_signature(obs)
        n = len(self.planted)
        if sig["n"] != n or sig["id_sum"] != n * (n - 1) // 2 or sig["bad_bucket"]:
            raise Mismatch(f"ledger rows {sig['n']}/{n}, id sum {sig['id_sum']}, bad buckets {sig['bad_bucket']}")
        return sig

    def op(self, k: int) -> int:
        out, obs = self._curate()
        if k == 0:  # untimed: every planted document lands in its bucket
            got = {r.doc_id: r.drop_reason for r in out.collect()}
            wrong = [i for i, want in self.planted.items() if got.get(i) != want]
            if wrong:
                raise Mismatch(f"{len(wrong)} documents in the wrong bucket, e.g. doc {wrong[0]}")
        else:
            force(out)
        self._check_rows(obs)
        return len(self.planted)

    def traced_op(self, k: int, layers: dict) -> int:
        """Each prep layer's public function on the op's input, forced on
        its own, then the full op."""
        docs = self.docs.select("doc_id", "text")
        self.group(f"op{k}.textstats")
        _, t = timed(lambda: force(quality_features(docs)))
        layers["textstats.s"].append(t)
        self.group(f"op{k}.pairs")
        pairs, t = timed(lambda: ngram_jaccard_pairs(docs, threshold=0.5).collect())
        layers["dedup.pairs_s"].append(t)
        layers["dedup.pairs_out"].append(len(pairs))
        pairs = self.spark.createDataFrame(pairs, "id_a long, id_b long, jaccard double")
        self.group(f"op{k}.clusters")
        _, t = timed(lambda: force(dedup_clusters(pairs, docs.select("doc_id"))))
        layers["dedup.clusters_s"].append(t)
        self.group(f"op{k}.op")

        def full_op():
            out, obs = self._curate()
            force(out)
            return obs

        t0 = time.time()
        obs, t = timed(full_op)
        layers["op_span"].append((t0, time.time()))
        sig = self._check_rows(obs)
        layers["curation.s"].append(t)
        layers["curation.kept_ratio"].append(sig["kept"] / len(self.planted))
        return len(self.planted)


def make(name: str, spark, run_dir: Path, seed: int, n_ops: int) -> Workload:
    if name == "kg_append":
        return KgAppend(spark, run_dir, seed, n_ops)
    if name == "prep_dedup":
        return PrepDedup(spark, run_dir, seed)
    raise ValueError(name)
