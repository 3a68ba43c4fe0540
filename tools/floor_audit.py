#!/usr/bin/env python3
"""Round-stable >2x floor-band audit.

Regenerates the README's floor-band table from the committed artifacts
(BENCH_last.json engine mins vs ORACLE_TIMES_last.json sweep times) so
the table can never lag the round — the r12 judge found it frozen at
r11 numbers while the artifacts had moved, and the 2.0-2.8x tail's
membership drifts with oracle-sweep noise. The audit rule is
structural, not a snapshot:

  * entries with oracle >= FLOOR (0.15 s) and engine/oracle > 2.0 are
    listed, each with its curated note (a code citation or the probe
    evidence) from the registry below — the registry IS the table's
    wording; paste the script output into README verbatim;
  * an entry with NO registry note fails the script (exit 1), so a new
    unexplained >2x name can never drift in silently;
  * a bench query with NO oracle record at all also fails (exit 1) —
    silently skipping it would defeat the drift guard (capped oracles
    are recorded as ">60" strings and are excluded legitimately: the
    engine beats the cap by >10x on all of them);
  * oracle times below FLOOR are excluded by construction: the suite's
    documented 0.3-0.5 s fixed per-query overhead over a sub-0.15 s
    denominator measures the constant, not the plan. Sub-floor sweep
    times are also order-dependent: check.py's sweep shares ONE DuckDB
    connection, so a query whose inputs an earlier query pulled into
    the buffer pool times far lower (a55_entropy_rate: 0.045 s in the
    r12 sweep vs 0.14-0.17 s across five fresh-connection runs vs
    0.31 s in the r11 sweep — engine absolute stable at 0.85-0.89 s).

Usage: python3 tools/floor_audit.py [BENCH_RECORD]   (prints the
markdown table; BENCH_RECORD defaults to BENCH_last.json — pass a
per-core record such as BENCH_last_c32.json)
"""
import json
import sys

FLOOR = 0.15
RATIO = 2.0

# query -> curated note, verbatim table wording. A citation
# ("file/member") means the full story lives in that scaladoc/probe.
# Entries drift in and out with oracle-sweep noise; keeping a note for
# a query currently under 2x is harmless and round-stable.
NOTES = {
    "dedup_jaccard_prefix": "PPJoin prefix blocking; all-pairs twin"
        " faster below ~1e6 docs by design — crossover note on"
        " `DedupOps.ngramJaccardPrefix`; measured by the r13 probes"
        " (uniform + boilerplate modes)",
    "dedup_ngram_jaccard": "exact all-pairs twin of the crossover pair;"
        " 10x probe entry (r13)",
    "dedup_containment": "exact census twin; pair-repartitioned counter;"
        " 10x probe ratio 1.4-1.5",
    "q20_dominant_supplier": "one exchange on l_partkey; Q20Probe"
        " decomposition shows the 2-scan floor is irreducible",
    "q21_waiting_supplier": "Q21Probe: 0.36 s two-scan floor;"
        " measured alternatives slower",
    "q9_nation_margin": "dim-chain broadcasts + one agg exchange;"
        " floor note in the q9 scaladoc",
    "q7_nation_volume": "dim-chain broadcasts + one agg exchange"
        " (same family note as q9)",
    "text_tfidf": "r9 scale-over-constant trade, before/after in the"
        " TextOps scaladoc; 10x probe band 0.4-2.7",
    "text_unigram_lm": "broadcast-LM family: model build + scoring pass"
        " (two jobs); 10x probe ratio 1.5-2.3",
    "text_bigram_lm": "broadcast-LM family; 10x probe ratio 1.5",
    "er_golden_record": "ER fusion over the shared jaro-winkler pair"
        " cache; 10x probe ratio 1.8",
    "text_source_perplexity": "broadcast-LM family: per-source scoring"
        " pass",
    "pipe_point_in_time": "SCD2 history + as-of join (`plans.AsofJoin`),"
        " one exchange each side",
    "pipe_decontaminate": "fingerprint anti-join; 2x-audit note in"
        " PipelineOps",
    "text_novelty": "min-owner novelty (skew-guarded); 10x probe ratio"
        " 1.1-1.2",
    "pipe_novelty_curve": "first-occurrence min-bucket aggregate over"
        " the shared shingle exchange",
    "sim_separability": "d²-cell aggregate; 2x-audit note in"
        " SimilarityOps",
    "sim_int8_topk": "two-job quantized serve (persisted index +"
        " broadcast ranker); 10x probe entry (r13) — serve batch staged"
        " 10x too, so its probe ratio reads ~100x work",
    "sim_cosine_census": "structural floor; 2x-audit note at"
        " `cosineBandCensus`",
    "sim_ivf_topk": "ANN-ranker family note at `rankTopK` (probe +"
        " coarse-quantizer serve, two bounded jobs); 10x probe ratio"
        " 1.4-1.6",
    "sim_kmeans": "2x-audit note at `SimilarityOps.kmeans` (fixed"
        " iteration count, broadcast centroids)",
    "dedup_span_exact": "span-keyed first-owner dedup; 2x-audit note in"
        " TextOps; 10x probe ratio 1.3",
    "j4_dedup_lastwins": "PK last-wins dedup: one max-struct aggregate"
        " exchange; fixed-overhead absolutes (engine ~0.4-0.5 s)",
    "a13_heavy_hitters": "Misra-Gries two-pass aggregate, one exchange;"
        " 10x probe ratio 1.3",
    "w30_xcorr": "day-grain lead/lag, bounded frame;"
        " fixed-overhead absolutes",
    "a55_entropy_rate": "type²-bounded transition cells; oracle time"
        " straddles the audit floor (see sweep-order caveat above)",
    "mm_border_contrast": "narrow decode pass, no shuffle;"
        " fixed-overhead absolutes",
    "dedup_edit_distance": "(lang, head) blocked Levenshtein equi-join;"
        " 10x probe ratio 1.1",
    "dedup_minhash_lsh": "banded minhash join; 10x probe ratio 2.3-2.7",
    "dedup_lsh_recall_sampled": "sample-stratum recall census; 10x probe"
        " ratio 2.1",
    "stream_topk": "bounded micro-batch replay overhead; state-store"
        " probe entry (SCALE_PROBE_STREAM.json)",
    "stream_dedup": "bounded micro-batch replay overhead; state-store"
        " probe entry (SCALE_PROBE_STREAM.json)",
    # fixed-overhead floor class: engine absolutes 0.3-0.9 s, single
    # exchange / broadcast-only / narrow-pass plans; they enter the
    # audit only when the oracle sweep runs slow enough to lift their
    # denominators over the 0.15 s floor
    "stream_index_lookup": "streaming fingerprint lookup vs the static"
        " broadcast index; micro-batch replay overhead dominates"
        " (engine <0.9 s)",
    "c10_drift_check": "two-aggregate drift census, one exchange;"
        " fixed-overhead absolutes",
    "j10_bucketed_join": "bucketed co-located join: the point IS the"
        " absent shuffle; engine time is scan + fixed overhead",
    "j12_band_join": "banded range join: bounded band-key expansion,"
        " one exchange; fixed-overhead absolutes",
    "j6_salted_skew_join": "two-phase salted join; the salt fan-out is"
        " fixed overhead at bench scale and the guard at data scale",
    "j1_merge_upsert": "staged last-wins merge (one aggregate + one"
        " join); fixed-overhead absolutes",
    "a47_markov_stationary": "type²-bounded transition cells + bounded"
        " power iteration; fixed-overhead absolutes",
    "mm_audio_zcr": "narrow binary decode pass, no shuffle;"
        " fixed-overhead absolutes",
    "mm_audio_silence": "narrow binary decode pass, no shuffle;"
        " fixed-overhead absolutes",
    "mm_audio_hash": "narrow binary decode pass, no shuffle;"
        " fixed-overhead absolutes",
    "text_inverted_index": "single token-exchange aggregate;"
        " fixed-overhead absolutes",
    "text_bigram_freq": "single token-exchange aggregate;"
        " fixed-overhead absolutes",
}


def main() -> int:
    record = sys.argv[1] if len(sys.argv) > 1 else "BENCH_last.json"
    bench = json.load(open(record))["queries"]
    oracle = json.load(open("ORACLE_TIMES_last.json"))["queries"]
    rows, missing, no_oracle = [], [], []
    subfloor = 0
    for q, eng in bench.items():
        ot = oracle.get(q)
        if isinstance(ot, str):
            continue  # capped: engine beats the cap by >10x
        if ot is None:
            no_oracle.append(q)  # never swept: that's a gap, not a pass
            continue
        if ot < FLOOR:
            subfloor += 1 if eng / ot > RATIO else 0
            continue
        ratio = eng / ot
        if ratio > RATIO:
            note = NOTES.get(q)
            if note is None:
                missing.append(q)
            rows.append((ratio, q, eng, ot, note or "UNEXPLAINED"))
    rows.sort(reverse=True)
    print("| query | engine s | oracle s | ratio | note |")
    print("|---|---|---|---|---|")
    for ratio, q, eng, ot, note in rows:
        print(f"| {q} | {eng:.2f} | {ot:.2f} | {ratio:.1f}x | {note} |")
    print(f"\n{len(rows)} entries > {RATIO}x at oracle >= {FLOOR} s; "
          f"{subfloor} sub-floor entries excluded by the floor rule "
          "(fixed-overhead-dominated by construction).")
    ok = True
    if missing:
        print(f"\nFAIL: unexplained >2x entries: {missing}\n"
              "Add a registry note (or fix the plan) before closing "
              "the round.", file=sys.stderr)
        ok = False
    if no_oracle:
        print(f"\nFAIL: bench entries with no oracle record: "
              f"{no_oracle}\nRe-run the oracle sweep (check.py) for "
              "them — a missing record is a gap, not a pass.",
              file=sys.stderr)
        ok = False
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
