"""The curation half of ingest-curate: the north-star training-data job
over a generated multimodal corpus.

One job is ``plans.training.training_batches`` (curate ->
chunk -> pack), then ``multimodal.image_decode_features`` and
``multimodal.image_phash`` over the documents' PNGs, then
``dedup.semdedup`` over their embeddings. Every job's outputs are
checked against the curation oracle and the generator's known pixels.
"""

from __future__ import annotations

import os
import time

from perfbench import check, gen

LAYERS = (
    "text.gate_s", "dedup.exact_s", "dedup.lsh_pairs_s", "dedup.components_s",
    "dedup.candidate_pairs", "dedup.verified_pairs", "dedup.lsh_precision",
    "dedup.planted_recall", "text.chunk_pack_s", "multimodal.decode_s", "multimodal.phash_s",
    "multimodal.decoded_mb", "similarity.semdedup_s",
)


class Job:
    """One curation job over the generated tables."""

    def __init__(self, spark, inputs: gen.CorpusInputs) -> None:
        from kinesis_stream_reader_spark.sources.tables import load_table

        self.documents = load_table(spark, inputs.data_dir, "documents")
        self.media = spark.read.parquet(os.path.join(inputs.data_dir, "media.parquet"))
        self.embeddings = load_table(spark, inputs.data_dir, "embeddings")

    def __call__(self) -> dict:
        from kinesis_stream_reader_spark.operators import dedup, multimodal
        from kinesis_stream_reader_spark.plans import training

        return {
            "manifest": training.training_batches(self.documents).collect(),
            "features": multimodal.image_decode_features(self.media).collect(),
            "phash": multimodal.image_phash(self.media).collect(),
            "semdedup": dedup.semdedup(self.embeddings).collect(),
        }


def check_outputs(ctx, inputs: gen.CorpusInputs, outputs: list[dict], curated_ids: set | None) -> None:
    """Each job's manifest against the packing of the oracle's curated
    ids, its image outputs against the known pixels and its SemDeDup
    output against the registry's oracle and the planted duplicates; in a traced run also the
    curated ids themselves (captured from the curate_corpus call)."""
    docs_path = os.path.join(inputs.data_dir, "documents.parquet")
    curated, toks, _ = check.curate_oracle(docs_path)
    if curated_ids is not None:
        ctx.record(None if curated_ids == curated else
                   f"curated {len(curated_ids)} ids, oracle {len(curated)}; "
                   f"{len(curated_ids ^ curated)} differ", "curate_corpus")
    manifest = check.expected_manifest(curated, toks)
    semdedup = check.semdedup_oracle(os.path.join(inputs.data_dir, "embeddings.parquet"))
    for i, out in enumerate(outputs):
        reason = (
            check.check_manifest([tuple(r) for r in out["manifest"]], manifest)
            or check.check_images([tuple(r) for r in out["features"]],
                                  [tuple(r) for r in out["phash"]], inputs.images)
            or check.check_semdedup([tuple(r) for r in out["semdedup"]], semdedup,
                                    inputs.embedding_dups)
        )
        ctx.record(reason, f"job {i}")


def wrap(tracer) -> None:
    """Trace the curation job's public functions, keeping each call's
    arguments and result for the prefix timings."""
    import kinesis_stream_reader_spark.operators.dedup as dedup
    import kinesis_stream_reader_spark.operators.multimodal as multimodal
    import kinesis_stream_reader_spark.operators.text as text
    import kinesis_stream_reader_spark.plans.curate as curate
    import kinesis_stream_reader_spark.plans.training as training

    for mod, attr, name in (
        (training, "training_batches", "plans.training.training_batches"),
        (curate, "curate_corpus", "plans.curate.curate_corpus"),
        (dedup, "dedup_exact", "operators.dedup.dedup_exact"),
        (dedup, "minhash_lsh_pairs", "operators.dedup.minhash_lsh_pairs"),
        (dedup, "minhash_verify_pairs", "operators.dedup.minhash_verify_pairs"),
        (dedup, "dedup_components", "operators.dedup.dedup_components"),
        (text, "chunk_documents", "operators.text.chunk_documents"),
        (multimodal, "image_decode_features", "operators.multimodal.image_decode_features"),
        (multimodal, "image_phash", "operators.multimodal.image_phash"),
        (dedup, "semdedup", "operators.dedup.semdedup"),
    ):
        tracer.wrap_function(mod, attr, name, capture=True)


def layer_metrics(tracer, job: Job, inputs: gen.CorpusInputs) -> tuple[dict[str, float], set]:
    """After a traced job: prefix counts over the frames its wrapped
    calls captured, and the LSH figures. Returns the metrics and the
    curated ids."""
    m: dict[str, float] = {}

    def first(name: str):
        return tracer.captured[name][0]  # (args, kwargs, result)

    def count_s(df) -> float:
        """Wall of a prefix count(), the second of two runs."""
        df.count()
        t0 = time.perf_counter()
        df.count()
        return time.perf_counter() - t0

    gated = first("operators.dedup.dedup_exact")[0][0]
    gate = count_s(gated)
    m["text.gate_s"] = gate
    m["dedup.exact_s"] = max(count_s(first("operators.dedup.dedup_exact")[2]) - gate, 0.0)
    pairs = first("operators.dedup.minhash_lsh_pairs")[2]
    m["dedup.lsh_pairs_s"] = count_s(pairs)
    components = [s for s in tracer.spans if s.name == "operators.dedup.dedup_components"][0]
    # dedup_components runs its label-propagation rounds eagerly: its
    # span is work, plus the count of the labels it returns
    m["dedup.components_s"] = (components.end - components.start) + count_s(
        first("operators.dedup.dedup_components")[2]
    )
    args, kwargs, verified = first("operators.dedup.minhash_verify_pairs")
    candidates = kwargs.get("candidates", args[1] if len(args) > 1 else None)
    n_cand = candidates.count()
    found = {(r[0], r[1]) for r in verified.collect()}
    m["dedup.candidate_pairs"] = n_cand
    m["dedup.verified_pairs"] = len(found)
    m["dedup.lsh_precision"] = len(found) / n_cand if n_cand else 0.0
    planted = inputs.near_dup_pairs
    m["dedup.planted_recall"] = sum(p in found for p in planted) / len(planted) if planted else 0.0
    curated = first("plans.curate.curate_corpus")[2]
    curated_ids = {r[0] for r in curated.select("doc_id").collect()}
    m["text.chunk_pack_s"] = max(
        count_s(first("plans.training.training_batches")[2]) - count_s(curated), 0.0
    )
    m["multimodal.decode_s"] = count_s(first("operators.multimodal.image_decode_features")[2])
    m["multimodal.phash_s"] = count_s(first("operators.multimodal.image_phash")[2])
    m["multimodal.decoded_mb"] = sum(len(r[0]) for r in job.media.select("data").collect()) / 1e6
    m["similarity.semdedup_s"] = count_s(first("operators.dedup.semdedup")[2])
    return m, curated_ids
