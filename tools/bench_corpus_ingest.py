"""Streaming corpus-ingestion throughput (records/min).

Pushes N synthetic documents through
the FULL streaming corpus job — enrich (hash/tokens/lang/quality) →
quality gate with observe() metrics → bounded-state exact dedup →
windowed OK files + dead-letter KO files
(streaming/corpus_ingest.py::start_corpus_ingest) — and reports
records/min against the reference's 200K/min mediation stress posture
(the closest published throughput figure; the reference has no corpus
pipeline).

Usage: python tools/bench_corpus_ingest.py [n_docs] [dup_pct] [--gates]
Prints one JSON line. ``--gates`` enables the round-9 stages — the
committed hashed-BoW model gate and a historical-corpus bloom screen
(masks built from the duplicate content ids, so screen hits are real)
— measuring what the full gate stack costs per record.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from pyspark.sql import functions as F  # noqa: E402

from benchgate import preflight_load_gate  # noqa: E402
from scio_db_spark.session import SessionFactory  # noqa: E402
from scio_db_spark.streaming.corpus_ingest import (  # noqa: E402
    start_corpus_ingest,
)

# Vocabulary mixing English stopwords (so lang_id resolves and the
# quality gate passes for most docs) with corpus filler; low ids keep
# a deterministic KO minority (short/punctuation-heavy docs).
_VOCAB = (
    "the and for that with this from have data table row batch "
    "query join hash scan filter window column value merge order "
    "stream corpus token shard spill probe build flush state"
).split()


def main() -> None:
    pos = [a for a in sys.argv[1:] if not a.startswith("--")]
    gates = "--gates" in sys.argv
    meter = "--meter" in sys.argv  # trained-BPE token metering
    lsh = "--lsh-screen" in sys.argv  # round-11 near-dup band screen
    excise = "--excise" in sys.argv  # round-12: excise -> meter chain
    n_docs = int(pos[0]) if pos else 1_000_000
    dup_pct = float(pos[1]) if len(pos) > 1 else 0.10

    _gate_stamps = preflight_load_gate("bench_corpus_ingest")
    spark = SessionFactory.create("bench-corpus-ingest")
    spark.sparkContext.setLogLevel("ERROR")
    # Totals below are summed from recentProgress, which Spark caps at
    # spark.sql.streaming.numRecentProgressUpdates (default 100): a
    # run with more micro-batches would silently undercount n_total
    # and deflate records/min. Raise the cap and assert under it.
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")

    indir = tempfile.mkdtemp(prefix="ci_in_")
    outdir = tempfile.mkdtemp(prefix="ci_out_")
    ck = tempfile.mkdtemp(prefix="ci_ck_")

    # --gates: the committed classifier is all-non-negative weights
    # against a large negative bias ("count positive evidence"), and
    # the DB-jargon vocab scores far below it — every synthetic doc
    # would route KO and the OK leg would idle. Derive a boost suffix
    # from the COMMITTED model (top positive-weight tokens, same md5
    # feature hashing) and append it to even content ids: half the
    # corpus clears the model gate, both verdicts and both sinks stay
    # exercised, and the text stays deterministic.
    boost = ""
    if gates:
        import hashlib

        from scio_db_spark.plans.textops import _QCLF_BIAS, _QCLF_DIM, _QCLF_W

        pool = [f"qx{i}" for i in range(3000)]

        def _w(t: str) -> int:
            h = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
            return _QCLF_W[h % _QCLF_DIM]

        picked, total = [], 0
        for t in sorted(pool, key=_w, reverse=True):
            picked.append(t)
            total += _w(t)
            if total >= -_QCLF_BIAS + 100_000:
                break
        boost = " " + " ".join(picked)

    # Deterministic synthetic docs, ~dup_pct exact duplicates (distinct
    # content ids fold the tail back onto earlier texts so the dedup
    # state sees real hits), 2% KO rows (one-token junk that fails the
    # quality gate). Pure Column expressions — generation must not be
    # the bottleneck of the measurement.
    n_distinct = max(1, int(n_docs * (1.0 - dup_pct)))
    vocab = F.array(*[F.lit(w) for w in _VOCAB])
    cid = (F.col("id") % n_distinct).alias("cid")
    # 64 words/doc: the quality score needs token volume (0.5·n/100)
    # plus the vocab's stopword share to clear the 0.5 gate — 24-word
    # docs score ~0.47 and the whole corpus lands in the dead letter.
    words = F.transform(
        F.sequence(F.lit(1), F.lit(64)),
        # 37 is coprime to the 31-word vocab; a multiplier equal to the
        # vocab size degenerates every doc to the same text.
        lambda i: F.element_at(
            vocab, ((F.col("cid") * 37 + i * 7) % len(_VOCAB) + 1).cast("int")
        ),
    )
    if excise:
        # The 31-word cyclic corpus is wall-to-wall cross-doc
        # duplicate spans — excision would strip every doc to its tail
        # token and the OK lane would idle. The excise leg instead
        # interleaves a per-CONTENT-id unique token at every other
        # position (cid folding keeps exact-dup copies <= 2 <
        # _SPAN_MIN_DOCS=3, so bodies survive excision) and prepends a
        # 16-token boilerplate header shared by ALL docs (the real
        # excision target — ~20% of every doc's token budget).
        boiler16 = F.concat_ws(" ", *[F.lit(_VOCAB[i]) for i in range(16)])
        body = F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda i: F.when(
                i % 2 == 0,
                F.element_at(
                    vocab,
                    ((F.col("cid") * 37 + i * 7) % len(_VOCAB) + 1).cast(
                        "int"
                    ),
                ),
            ).otherwise(
                F.concat(
                    F.lit("u"),
                    F.col("cid").cast("string"),
                    F.lit("x"),
                    i.cast("string"),
                )
            ),
        )
        words = F.concat(F.split(boiler16, " "), body)
    gen = (
        spark.range(n_docs)
        .select("id", cid)
        .select(
            F.col("id").alias("doc_id"),
            # The trailing "d<cid>" token guarantees one distinct text
            # per content id (the vocab words alone are cyclic shifts —
            # only |vocab| distinct sequences); duplicates then come
            # ONLY from the deliberate cid folding.
            F.when(F.col("cid") % 50 == 0, F.lit("!!!"))
            .otherwise(
                F.concat(
                    F.concat_ws(
                        " ",
                        F.concat_ws(" ", words),
                        F.concat(F.lit("d"), F.col("cid").cast("string")),
                    ),
                    F.when(
                        F.lit(bool(boost)) & (F.col("cid") % 2 == 0),
                        F.lit(boost),
                    ).otherwise(F.lit("")),
                )
            )
            .alias("text"),
            F.timestamp_seconds(
                F.lit(1_700_000_000) + (F.col("id") % 3600)
            ).alias("ingest_ts"),
        )
    )
    gen.write.mode("overwrite").parquet(indir)

    # --excise (round-12 verdict item 3): run exact-substring span
    # REMOVAL over the landed batch BEFORE the stream consumes it —
    # the production chain where dedup pays for itself downstream:
    # every token excised here is a token the meter (and ultimately
    # the trainer) never touches. The synthetic corpus is cyclic-
    # vocab and so heavily cross-duplicated — the excision share is
    # reported, not hidden, and the end-to-end rate includes the
    # excision wall-clock.
    excise_stats = None
    if excise:
        from scio_db_spark.plans.textops import span_excise_to_fixpoint

        t_ex = time.perf_counter()
        src = spark.read.parquet(indir)
        rw, rounds = span_excise_to_fixpoint(
            src.select("doc_id", "text")
        )
        led = rw.agg(
            F.sum("n_tokens_pre").alias("pre"),
            F.sum("n_tokens_post").alias("post"),
        ).collect()[0]
        indir2 = tempfile.mkdtemp(prefix="ci_in_excised_")
        src.drop("text").join(
            rw.select(
                "doc_id", F.col("text_rewritten").alias("text")
            ),
            "doc_id",
        ).write.mode("overwrite").parquet(indir2)
        excise_sec = round(time.perf_counter() - t_ex, 2)
        excise_stats = {
            "excise_sec": excise_sec,
            "excision_rounds": rounds,
            "tokens_pre": int(led.pre),
            "tokens_post": int(led.post),
        }
        indir = indir2

    stream = spark.readStream.schema(
        "doc_id bigint, text string, ingest_ts timestamp"
    ).parquet(indir)

    cfg_kwargs = {}
    lsh_kwargs = {}
    if lsh:
        from scio_db_spark.streaming.corpus_ingest import (
            CorpusIngestConfig,
            lsh_band_bloom_masks,
        )

        # near-dup screen at its DESIGNED size: the literal path
        # serves <= ~10-20K canonical keys at 2K mask words (the
        # corpus_ingest module doc's measured boundary; a larger
        # history belongs to the persisted band-index join). History
        # = every 100th doc -> ~4K band keys. NOTE doc length: the
        # screen minhashes every shingle, so cost scales with tokens
        # per doc — the --gates corpus appends a ~1K-token classifier
        # boost to half the docs and roughly an order of magnitude
        # more screen work; run this leg without --gates for the
        # 64-token-doc cost.
        lsh_kwargs["lsh_screen_masks"] = lsh_band_bloom_masks(
            spark.read.parquet(indir).filter(
                F.col("doc_id") % 100 == 0
            ),
            bits=1 << 16,
        )
    if gates:
        from scio_db_spark.plans.textops import bloom_build_sized
        from scio_db_spark.streaming.corpus_ingest import (
            CorpusIngestConfig,
            bloom_masks_dense,
        )

        # "yesterday's corpus" = every 10th content id: the screen
        # sees real hits on top of the FP tail, like production would.
        # m sized to the corpus (the committed 1024-bit census filter
        # is DELIBERATELY undersized for the gate SF and saturates
        # here): ~5 bits/key for n_docs/10 historical keys keeps the
        # FP tail under ~10% while the mask literal stays a
        # plan-friendly few thousand words.
        bloom_bits = 1 << max(10, (n_docs // 10).bit_length() + 2)
        hist = (
            spark.read.parquet(indir)
            .filter(F.col("doc_id") % 10 == 0)
            .select("text")
        )
        cfg_kwargs["cfg"] = CorpusIngestConfig(
            clf_gate=True,
            token_meter=meter,
            screen_masks=bloom_masks_dense(
                bloom_build_sized(hist, "text", bloom_bits), bloom_bits
            ),
            **lsh_kwargs,
        )
    elif meter or lsh:
        from scio_db_spark.streaming.corpus_ingest import (
            CorpusIngestConfig,
        )

        cfg_kwargs["cfg"] = CorpusIngestConfig(
            token_meter=meter, **lsh_kwargs
        )

    t0 = time.perf_counter()
    ok_q, ko_q = start_corpus_ingest(stream, outdir, ck, **cfg_kwargs)
    # The sinks run an open-ended micro-batch trigger: drain whatever
    # is available, then stop (the test-suite pattern).
    ok_q.processAllAvailable()
    ko_q.processAllAvailable()
    elapsed = time.perf_counter() - t0
    ok_q.stop()
    ko_q.stop()

    # Gate metrics from observe(): n_total counts every record through
    # the job (the throughput denominator), without a second scan.
    totals = {"n_total": 0, "n_ok": 0, "n_ko": 0}
    progress = ok_q.recentProgress
    assert len(progress) < 10000, (
        "recentProgress hit the raised cap — totals would undercount; "
        "raise numRecentProgressUpdates further or switch to a "
        "StreamingQueryListener accumulator"
    )
    for p in ok_q.recentProgress:
        m = (p.get("observedMetrics") or {}).get("corpus_gate")
        if m:
            for k in totals:
                totals[k] += m[k]
    try:
        ok_rows = spark.read.parquet(f"{outdir}/ok").count()
    except Exception:  # a fully-gated run writes no OK files
        ok_rows = 0

    per_min = totals["n_total"] / elapsed * 60.0
    extra: dict = {}
    if excise_stats:
        extra["excise"] = excise_stats
        extra["records_per_min_incl_excise"] = round(
            totals["n_total"]
            / (elapsed + excise_stats["excise_sec"])
            * 60.0
        )
    print(
        json.dumps(
            {
                "metric": "corpus_ingest_records_per_min",
                "gates": gates,
                "token_meter": meter,
                "lsh_screen": lsh,
                "excised": bool(excise_stats),
                **extra,
                "value": round(per_min),
                "unit": "records/min",
                "records": totals["n_total"],
                "gate_ok": totals["n_ok"],
                "gate_ko": totals["n_ko"],
                "ok_rows_after_dedup": ok_rows,
                "elapsed_sec": round(elapsed, 2),
                "baseline_records_per_min": 200_000,
                "load_1m": list(os.getloadavg())[:2],
                **_gate_stamps,
            }
        )
    )


if __name__ == "__main__":
    sys.exit(main())
