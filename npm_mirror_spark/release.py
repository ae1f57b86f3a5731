"""Corpus release builder: the whole training-data curation story as one
call — quality gate -> benchmark decontamination -> fuzzy dedup ->
PII redaction -> sequence packing -> atomic snapshot commit.

Every stage is an existing operator (operators/{text,curation,dedup}.py),
so this module adds NO new computation — it fixes the canonical order and
returns the attrition audit a release publishes:

- gate first: it is zero-shuffle and kills the most rows, so everything
  downstream (shingling, pairing) runs on fewer documents;
- decontaminate before dedup: a contaminated doc must not survive as a
  cluster's canonical representative;
- redact last-but-one: no point redacting rows that die earlier;
- pack as the final shape, committed atomically through SnapshotStore so
  consumers only ever see whole releases (and can time-travel across
  them).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from npm_mirror_spark.operators.curation import (
    cap_per_group,
    decontaminate,
    pack_sequences,
    redact_pii,
)
from npm_mirror_spark.operators.dedup import (
    dedup_keepset,
    minhash_candidate_pairs,
)
from npm_mirror_spark.operators.text import gopher_rules, ws_token_count
from npm_mirror_spark.snapshot_store import SnapshotStore


def cut_decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """The release pipeline's SURGICAL decontamination stage as a pure
    transformation (extracted from build_release so q_release_cut can
    drive the exact production path): benchmark-overlapping n-gram
    spans are cut in place (curation.cut_contaminated_spans), documents
    emptied by the cut die, and the seam-guard boolean gate re-checks
    the REWRITTEN text — rejoining across a deleted span can mint new
    n-grams that coincidentally match the benchmark, and the "zero
    bench n-grams ship" invariant stays exact only if those residual
    collisions are dropped too.

    Returns ``docs``' schema plus boolean ``was_cut``.  Documents that
    lost a span carry ``clean_text`` rebuilt from NORMALIZED tokens
    (lowercased, whitespace-collapsed); untouched docs keep their
    byte-exact original — ``was_cut`` marks the rewritten rows so a
    consumer can distinguish them (the r6 advice finding).

    ``rewritten`` is lazily localCheckpoint-ed (r14, guide §3.3 plan
    truncation / §5): it is consumed three times — twice inside the
    seam-guard recheck and once as the left side of the final anti join
    — and each unpersisted consumer carried the ENTIRE upstream lineage
    (gate, shingle explode, span islands, rebuild join) into its own
    analyzed plan.  The measured wall here was ~95% driver time chewing
    the duplicated 88-scan tree (executor task-time 5.06 s vs 6.9 s
    wall, summed from per-stage task metrics), so a cache alone (which
    keeps the lineage in every consumer's plan) did not move it;
    truncation makes every consumer read `Scan ExistingRDD`.  Values are
    deterministic text algebra, so the materialized path is
    bit-identical."""
    from npm_mirror_spark.operators.curation import (
        benchmark_shingles,
        cut_contaminated_spans,
    )

    # Build the suite's shingle vocabulary ONCE and persist it (r15,
    # r14 verdict item 6 / guide §3.2): the cut and the seam-guard
    # recheck each broadcast this frame, and unpersisted each build
    # re-ran the suite scan + shingle explode + distinct from source.
    # The persist is released by the session's cache hygiene (bounded:
    # suite vocabulary, not corpus); values identical by construction,
    # so both consumers see exactly what they computed before.
    bench_sh = benchmark_shingles(bench, text_col, n).persist()
    cut = cut_contaminated_spans(
        docs, bench, text_col, id_col, n, bench_sh=bench_sh
    ).select(
        id_col, "clean_text",
        (F.col("kept_tokens") < F.col("n_tokens")).alias("was_cut"),
    )
    rewritten = (
        docs.withColumnRenamed(text_col, "__orig")
        .join(cut, id_col)
        .withColumn(
            text_col,
            F.when(F.col("was_cut"), F.col("clean_text")).otherwise(
                F.col("__orig")
            ),
        )
        .drop("__orig", "clean_text")
        # a doc whose whole text was benchmark quote carries nothing
        .where(F.length(F.col(text_col)) > 0)
        .localCheckpoint(eager=False)
    )
    # seam-guard scope: only CUT documents can mint new n-grams —
    # an untouched doc had zero bench-overlapping grams by construction
    # (that is what "untouched" means), so rechecking it is pure cost;
    # restricting the recheck shrinks the second shingle explode to the
    # cut sliver (normally tiny)
    residual_bad = decontaminate(
        rewritten.where(F.col("was_cut")), bench, text_col, id_col, n,
        bench_sh=bench_sh,
    ).where(F.col("contaminated")).select(id_col)
    return rewritten.join(residual_bad, id_col, "left_anti")


def build_release(
    spark: SparkSession,
    docs: DataFrame,
    bench: DataFrame,
    store_root: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shard_col: str = "source",
    capacity: int = 512,
    decontam_ngram: int = 5,
    max_per_shard: int | None = None,
    token: str | int | None = None,
    quality_model: dict | None = None,
    min_model_score: float = 0.5,
    decontam_mode: str = "drop",
    contracts: list[tuple] | None = None,
    enforce_contracts: bool = True,
) -> dict:
    """Run the curation pipeline and commit the packed corpus as one
    snapshot version. Returns the attrition audit. ``max_per_shard``
    optionally caps any one shard's contribution after dedup
    (cap_per_group — deterministic, seed-free), so a dominant source
    cannot swamp the mix no matter what the upstream feed looks like.

    ``quality_model`` optionally adds the TRAINED gate after the rule
    gate (the DCLM two-stage pattern: cheap rules first, then the
    distilled classifier): a train_logreg model dict scored map-side
    (operators/classifier.py::score_logreg); rows below
    ``min_model_score`` die before any shuffle-heavy stage runs.

    ``decontam_mode``: "drop" (default) kills every document sharing a
    benchmark n-gram (the boolean gate); "cut" runs the SURGICAL
    variant (curation.cut_contaminated_spans) — benchmark-overlapping
    spans are deleted in place and the document survives with the rest
    of its text, trading a body rewrite for retained tokens. Either
    way no benchmark n-gram reaches the packed output.

    ``contracts`` optionally gates the INPUT with a declarative
    data-quality contract (operators/checks.py constraint tuples) —
    fail fast BEFORE the pipeline spends anything on bad data: the
    report (one aggregation job) lands in the audit under
    ``"contracts"``, and any failing constraint aborts the release
    with ValueError unless ``enforce_contracts=False`` (record-only
    mode; NULL verdicts — min/max over no data — do not fail).
    """
    if contracts:
        from npm_mirror_spark.operators.checks import constraint_report

        report = constraint_report(docs, contracts).collect()
        contract_audit = {
            r["name"]: {"metric": r["metric"], "ok": r["ok"]} for r in report
        }
        failing = sorted(r["name"] for r in report if r["ok"] is False)
        if failing and enforce_contracts:
            raise ValueError(
                f"input contract violated: {failing} "
                f"(pass enforce_contracts=False to record instead of abort)"
            )
    else:
        contract_audit = {}

    n_input = docs.count()

    gated = gopher_rules(docs, text_col).where(F.col("keep"))
    kept_quality = gated.select(*docs.columns)
    n_rule_pass = kept_quality.count()
    n_model_pass = n_rule_pass  # no model gate -> pass-through

    if quality_model is not None:
        from npm_mirror_spark.operators.classifier import (
            hashed_features,
            score_logreg,
        )

        dim = len(quality_model["weights"])
        scores = score_logreg(
            hashed_features(kept_quality, text_col, id_col, dim),
            quality_model,
            id_col,
            # id universe: token-less docs must get the bias-only score,
            # not silently vanish from the scored set
            ids=kept_quality.select(id_col),
        ).where(F.col("score") >= F.lit(float(min_model_score))).select(id_col)
        kept_quality = kept_quality.join(scores, id_col, "left_semi")
        n_model_pass = kept_quality.count()

    if decontam_mode == "cut":
        clean = cut_decontaminate(
            kept_quality, bench, text_col, id_col, decontam_ngram
        )
    elif decontam_mode == "drop":
        flags = decontaminate(
            kept_quality, bench, text_col, id_col, decontam_ngram
        ).where(~F.col("contaminated")).select(id_col)
        clean = kept_quality.join(flags, id_col, "left_semi").withColumn(
            "was_cut", F.lit(False)
        )
    else:
        raise ValueError("decontam_mode must be 'drop' or 'cut'")
    n_clean = clean.count()

    pairs = minhash_candidate_pairs(clean, text_col, id_col)
    unique = dedup_keepset(clean, pairs, id_col)
    n_unique = unique.count()

    if max_per_shard is not None:
        unique = cap_per_group(unique, shard_col, id_col, max_per_shard)
        n_capped = unique.count()
    else:
        n_capped = n_unique

    redacted = redact_pii(unique, text_col).withColumn(
        text_col, F.col("redacted")
    )
    final = pack_sequences(
        redacted.withColumn("n_tokens", ws_token_count(text_col)),
        "n_tokens",
        shard_col,
        id_col,
        capacity,
    ).select(
        id_col, shard_col, text_col, "n_tokens",
        "offset", "first_block", "last_block",
        # marks rows whose body was rewritten from normalized tokens by
        # the cut-mode span surgery (always False under 'drop') — the
        # packed corpus mixes byte-exact and normalized bodies, and a
        # consumer must be able to tell which is which
        "was_cut",
    )

    store = SnapshotStore(spark, store_root)
    # replace: each release version IS the whole corpus (older versions
    # stay readable via time travel); appending would duplicate docs
    version = store.commit(final, token=token, replace=True)

    return {
        "version": version,
        "n_input": n_input,
        # rule-gate and model-gate attrition reported SEPARATELY (advice
        # finding: conflating them made the model's kill count
        # unrecoverable); n_after_quality keeps its historical meaning of
        # "after the whole quality stage" for downstream consumers.
        "n_rule_pass": n_rule_pass,
        "n_model_pass": n_model_pass,
        "n_after_quality": n_model_pass,
        "n_after_decontamination": n_clean,
        "n_after_dedup": n_unique,
        "n_after_cap": n_capped,
        "n_released": n_capped,
        "contracts": contract_audit,
    }


def release_diff(
    store: SnapshotStore,
    old_version: int,
    new_version: int,
    id_col: str = "doc_id",
    shard_col: str = "source",
) -> DataFrame:
    """What changed between two committed releases: per shard, how many
    documents were added and how many removed — the audit a consumer
    reads before switching training to a new corpus version.

    Time travel makes this a pure query: both sides come from immutable
    manifests, so the diff is reproducible forever. Two broadcast-friendly
    anti-joins on the id column; only (id, shard) pairs move.
    """
    old = store.read(old_version).select(id_col, shard_col)
    new = store.read(new_version).select(id_col, shard_col)
    added = new.join(old.select(id_col), id_col, "left_anti").select(
        shard_col, F.lit(1).alias("added"), F.lit(0).alias("removed")
    )
    removed = old.join(new.select(id_col), id_col, "left_anti").select(
        shard_col, F.lit(0).alias("added"), F.lit(1).alias("removed")
    )
    return (
        added.unionByName(removed)
        .groupBy(shard_col)
        .agg(
            F.sum("added").alias("n_added"),
            F.sum("removed").alias("n_removed"),
        )
    )
