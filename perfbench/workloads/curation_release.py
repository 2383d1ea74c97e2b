"""curation_release: one corpus release of the LLM curation pipeline per op.

Each op runs ``llm.curation.curate_release_pipeline`` (URL canonical
dedup → exact dedup → MinHash-LSH near-duplicate components → quality
gate → sample → shards), then ``llm.dedup.dedup_embedding_canonical`` and
``llm.ivf.sim_topk_ivf`` over a seeded corpus with planted exact and near
duplicates. It never touches the table layer.

A run times one release in a fresh session, with no warm-up: a nightly
curation job runs its release once per process, so the first-call costs
(code generation, JIT) are part of what it pays. The per-run checks are
cheap invariants of the release ledger and the two embedding results; the
full DuckDB oracle of the release is compared in ``perfbench/tests``.
"""

from __future__ import annotations

import os

from perfbench import gen
from perfbench.workloads import Workload

N_DOCS = 1000
N_VECS = 500
STAGES = ("0_base", "1_url_canonical", "2_exact", "3_near_dup", "4_quality", "5_sample")


class CurationRelease(Workload):
    name = "curation_release"
    items = "documents"
    n_ops = 1

    def generate(self, ctx, work: str) -> None:
        self.sf_dir = os.path.join(work, "sf")
        corpus, self.vec_pairs = gen.curation_corpus(ctx.seed, N_DOCS, N_VECS)
        gen.write_tables(corpus, self.sf_dir)
        texts = corpus["documents"]["text"].to_pylist()
        self.n_tokens = sum(len(t.split(" ")) for t in texts)
        self.releases: list[tuple] = []

    def warm_up(self, ctx) -> None:
        pass

    def op(self, ctx) -> int:
        from aws_seismic_data_pipeline_spark.llm.curation import (
            curate_release_pipeline,
        )
        from aws_seismic_data_pipeline_spark.llm.dedup import (
            dedup_embedding_canonical,
        )
        from aws_seismic_data_pipeline_spark.llm.ivf import sim_topk_ivf

        spark, sf_dir = ctx.spark, self.sf_dir
        with ctx.span("op", workload=self.name):
            with ctx.span("llm.curation"):
                ledger = curate_release_pipeline(spark, sf_dir).collect()
            with ctx.span("llm.dedup"):
                comps = dedup_embedding_canonical(spark, sf_dir).collect()
            with ctx.span("llm.ivf"):
                ivf = sim_topk_ivf(spark, sf_dir).collect()
        self.releases.append((ledger, comps, ivf))
        return N_DOCS

    def check(self, ctx) -> list[tuple[str, bool]]:
        out = []
        for i, (ledger, comps, ivf) in enumerate(self.releases):
            out.append((f"ledger_{i}", self._ledger_ok(ledger)))
            out.append((f"components_{i}", self._components_ok(comps)))
            out.append(
                (
                    f"ivf_{i}",
                    len(ivf) > 0
                    and all(
                        r.n_results == 5
                        and r.self_excluded
                        and r.cosine_monotone
                        and r.agg_recall_ok
                        for r in ivf
                    ),
                )
            )
        return out

    def _ledger_ok(self, ledger) -> bool:
        by = {r.stage: (r.n_docs, r.n_tokens) for r in ledger}
        if any(s not in by for s in STAGES):
            return False
        docs = [by[s][0] for s in STAGES]
        toks = [by[s][1] for s in STAGES]
        shards = [v for s, v in by.items() if s.startswith("shard_")]
        return (
            docs[0] == N_DOCS
            and toks[0] == self.n_tokens
            and all(a >= b for a, b in zip(docs, docs[1:]))
            and all(a >= b for a, b in zip(toks, toks[1:]))
            and docs[2] < docs[1]  # planted exact duplicates were removed
            and sum(n for n, _ in shards) == docs[5]
            and sum(t for _, t in shards) == toks[5]
        )

    def _components_ok(self, comps) -> bool:
        comp = {r.vec_id: r.component_id for r in comps}
        if len(comp) != N_VECS or any(
            (r.component_id == r.vec_id) != r.is_canonical or r.component_id > r.vec_id
            for r in comps
        ):
            return False
        joined = sum(comp[a] == comp[b] for a, b in self.vec_pairs)
        return joined >= 0.9 * len(self.vec_pairs)

