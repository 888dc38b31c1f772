#!/usr/bin/env python3
"""Round-18 targeted ledger re-pin (BASELINE.md protocol, case 1).

Usage: python3 tools/repin_r18.py <bench_json_line_file>

Supersedes the round-17 re-pin and keeps its single-source rule:
reads ONE bench artifact, refuses unless it self-certifies (contended
false, failed/suspect/watch/family_watch empty, epoch_verdict none,
steal < 1%), and replaces exactly the touched entries' warm pins plus
ALL cold:/cpu:/cold_cpu: channel pins verbatim.

The warm list is the UNION of the round-17 touched set (the r17 re-pin
never found a certifying window — those pins still describe pre-r17
plans) and the round-18 touched set (bitext ANN fusion, the shared
docTokenCounts rollup and its nine consumers, the dense batch-ranking
frame, x118's round checkpoint, x90's deg reuse, and the native
per-language tokenizer's oracle queries).
"""
import json
import sys

R17_TOUCHED = [
    "x82_quality_model", "x29_dup_clusters", "x72_dup_clusters_all",
    "x88_dup_weights", "x94_soft_sample", "x119_quality_canonical",
    "x90_pagerank", "x02_dedup_minhash", "x60_incremental_dedup",
    "x62_dataset_card", "q11_idf", "q12_doc_vectors",
    "q15_doc_vectors_real", "q21_vocab_load", "q30_doc_vector_map",
    "q32_multilang_vectors", "x46_ml_lsh_dedup", "x144_bitext_mining",
    "x146_bitext_extract", "x147_bitext_extract_ann",
    "x145_bitext_mining_ann",
]

R18_TOUCHED = [
    # bitext ANN fusion (x147/x145 already above), dense batch frame
    "x101_hybrid_batch", "x103_eval_batch",
    # docTokenCounts rollup consumers
    "q10_tf", "x03_dedup_simhash", "x36_map_funcs", "x55_simhash_pairs",
    "x71_unigram_xent", "x85_ccnet_buckets", "x116_keywords",
    "x125_neg_sampling", "x134_ql_retrieval",
    # iterative-round checkpoints
    "x118_label_prop",
    # native per-language tokenizer (es/de/fr/ru/ar/zh/ja/ko rules)
    "q29_lang_tokens", "q31_cjk_tokens", "q33_lang_tokens_ext",
    "q34_lang_tokens_koar",
]

TOUCHED = R17_TOUCHED + [q for q in R18_TOUCHED if q not in R17_TOUCHED]


def main():
    raw = open(sys.argv[1]).read()
    j = json.loads(raw[raw.index("{"):])
    ok = (not j["contended"] and j["failed"] == [] and j["suspect"] == []
          and j["watch"] == [] and j["family_watch"] == []
          and j["epoch_verdict"] == "none" and j["steal_pct"] < 1)
    if not ok:
        print("artifact does NOT self-certify; no re-pin:",
              {k: j[k] for k in ("contended", "failed", "suspect", "watch",
                                 "family_watch", "epoch_verdict",
                                 "steal_pct")})
        sys.exit(1)
    led = json.load(open("BENCH_LEDGER.json"))
    changed = []
    for q in TOUCHED:
        if q in j["queries"] and j["queries"][q] > 0:
            changed.append((q, led.get(q), j["queries"][q]))
            led[q] = j["queries"][q]
    for q, v in j.get("cold", {}).items():
        if v > 0:
            changed.append(("cold:" + q, led.get("cold:" + q), v))
            led["cold:" + q] = v
    for q, v in j.get("cpu", {}).items():
        if v > 0:
            led["cpu:" + q] = v
    for q, v in j.get("cold_cpu", {}).items():
        if v > 0:
            led["cold_cpu:" + q] = v
    json.dump(led, open("BENCH_LEDGER.json", "w"), indent=1, sort_keys=True)
    for q, old, new in changed:
        print(f"{q:40s} {old} -> {new}")
    print(f"re-pinned {len(changed)} entries + cpu channel "
          f"({len(j.get('cpu', {}))} warm / {len(j.get('cold_cpu', {}))} cold)")


if __name__ == "__main__":
    main()
