"""Physical-plan audit: dump `.explain("formatted")` for the headline
queries into BENCH/PLANS.md, with the scale-critical properties to look for
noted per query (pushed filters, broadcast vs shuffle joins, partial
aggregation, exchange count). Run at sf0.01 — plan SHAPE is sf-invariant."""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import CPUS, build_spark

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

# query -> the plan property the 100-TB story depends on
AUDITED = {
    "pricing_summary": "partial aggregation before the exchange; scan reads only needed columns",
    "politeness_topk": "rank-in-partition (no global sort); single hash exchange on host",
    "dedup_minhash_lsh": "persisted intermediates (InMemoryTableScan); equality band join, never all-pairs",
    "dedup_cluster_cc": "loop output: compact (id,label) pairs only (lineage truncated per round)",
    "host_pagerank": "per-round join + partial-agg; no body/text columns in the loop",
    "decontam_ngram_overlap": "BroadcastHashJoin on the tiny eval-gram side; train grams never exchanged on join key",
    "sample_stratified_deterministic": "stateless scan-side filter: zero hash exchanges",
    "pack_context_windows": "exactly one hash exchange (per-lang window)",
    "pages_text_extract": "shuffle-free mapInPandas/ArrowEvalPython over the scan",
    "pages_latest_capture": "single map-side-combined max_by exchange",
    "frontier_merge_upsert": "two partial aggs + one join exchange set; only (url, ts) columns",
    "shard_assign_deterministic": "one window exchange on shard; no extra sorts",
    "corpus_pipeline_e2e": "filters pushed into scan; shuffles = dedup groupBy + per-lang window only",
    "robots_rules_filter": "URL side filtered in place; host rules broadcast",
    "html_outlinks": "shuffle-free kernel + explode; only the final presentation sort exchanges",
    "recrawl_schedule": "pure codegen CASE map over the scan; no UDF, no hash exchange",
    "link_graph_reach": "hop joins on checkpointed compact (src,dst) pairs; no html column past the kernel",
    "crawl_snapshot_diff": "md5 collapse in the scan-side Project, BELOW the join exchange; no text column crosses it",
    "host_quality_rollup": "one partial-agg hash exchange on host; window over the aggregated (tiny) host set",
    "mirror_detect_hosts": "distinct + collect_set partial aggs; pair fan-out after the cap, never a fp self-join",
    "token_df_topk": "map-side-combined distinct on (lang,doc,token); top-k windows over vocab rows only",
    "webtext_pipeline_e2e": "kernel shuffle-free; token gate scan-side; ONE shuffle (dedup window on 32-hex fp)",
    "paragraph_dedup": "one fp-partitioned window over (fp,url,pos) triples; reassembly groupBy with in-agg sort",
    "discovery_fetch_plan": "anti-join + in-degree partial-agg; salted two-level top-k, no global sort",
    "text_winnow_fingerprints": "one (doc_id,pos,word) exchange; lead-shingle/frame-min/count windows share its sort; DISTINCT reuses the partitioning; flat-words Generate keeps the inferred filter O(words)",
    "url_template_mining": "template regex in the scan Project; one partial-agg exchange on (host, template)",
    "warc_ingest": "shuffle-free mapInPandas record walk over segment blobs; record rows never carry the segment payload",
    "index_postings": "map-side WindowGroupLimit caps per-token postings before the exchange; df via partial-agg count; join reuses token partitioning",
    "text_rarity_buckets": "vocab tf broadcast back onto the token stream (never shuffled on the join key); ntile windows over doc-level agg rows only",
    "text_gopher_gates": "pure integer codegen over the scan; zero hash exchanges",
    "host_budget_allocation": "integer largest-remainder over one partial-agg host rollup; deterministic under any partitioning",
    "text_hashngram_classifier": "hash+weight pure codegen per token; ONE (doc_id, partial-sum) exchange; no join (derived weights)",
    "text_dup_span_fraction": "grams via lead() windows over the one (doc_id,pos,word) exchange; dup detect + re-join on 8-byte hashes only — no exchange carries gram text",
    "embedding_kmeans_refine": "both centroid-distance joins BroadcastHashJoin (k*dims rows); per-iteration shuffles carry (vec_id,cluster,int64) triples only",
    "bm25_more_like_this": "postings/df/dl partial-aggs over one token explode; broadcast query side; top-5 via rank window with map-side WindowGroupLimit",
    "warc_trainset_e2e": "three shuffle-free Arrow kernels over the scan side; gates scan-side; ONE pipeline shuffle (dedup window) — the second exchange is synthetic-segment construction only",
    "dedup_fuzzy_e2e": "verify joins candidates back on 8-byte shingle hashes; CC loop shuffles (id,label) pairs only; survivor agg one partial-agg groupBy(cluster); no exchange carries text",
    "text_dup_span_removal": "dup set re-joins as BROADCAST; coverage max + final agg reuse the (doc_id,pos) window clustering; detect-globally/apply-locally diamond recomputes the gram pipeline instead of persisting the token stream",
    "ann_ivf_kmeans_topk": "centroid-distance joins broadcast (k*dims rows); probe fan-out bounded by 2 clusters' members; exact re-rank joins candidates on (vec_id,dim), never the full corpus",
    "pagerank_fetch_plan": "PageRank loop shuffles (id,rank) pairs; budget allocation over the broadcast-sized host table; admission window partitions by host",
    "adaptive_politeness": "ONE partial-agg exchange to |hosts| rows; the AIMD ladder is codegen over the tiny host table",
    "text_bigram_lm_score": "bigrams via one lead() over the (doc_id,pos) exchange; context/vocab broadcast; only the Zipf-tail bigram-count join shuffles",
    "trainset_pack_sequences": "distributed prefix-sum: block partials + BROADCAST exclusive prefix + intra-block window — no single-partition cumsum over the doc stream",
    "text_topgram_gates": "ONE struct-explode Generate over the shared lead window (no per-n union rescans: 3 scans, was 7); downstream partial-agg groupBys on (doc_id,n,gram)",
    "cdx_surt_lookup": "pure codegen SURT projection + prefix filter pushed to the scan; sorted/range-partitioned storage turns it into a pruned range scan at 10^10 rows",
    "host_trustrank": "per-round join + partial-agg over compact (id,rank) pairs only; teleport restricted to the trusted seed set",
    "ngram_count_table": "one struct-explode over the shared lead window; ONE map-side-combined (n,gram) agg; cutoff on aggregated rows; head slice via map-side WindowGroupLimit",
    "dedup_simhash_hamming": "persisted (doc,simhash,band,bval) table (fingerprint agg runs once, not 3x); candidate self-join + bucket cap on compact int keys; xor-popcount verify on int64 pairs — no exchange carries text",
    "dedup_semantic_semdedup": "centroid-distance joins broadcast; all-pairs join confined within clusters; dot-product partial-aggs over the dim-exploded join; removal anti-join on vec_id only",
    "dsir_importance_weights": "target/source count tables bounded at 2^16 rows and BROADCAST onto the feature stream; one per-doc partial-agg exchange",
    "text_c4_filters": "page gates computed pre-explode and filtered scan-side (no join-back); ONE reassembly groupBy(doc_id); sentence gate on aggregated rows",
    "dedup_sentence_spans": "span fps via lead() windows on the (doc_id,pos) exchange; first-wins = one fp-partitioned window; coverage max co-partitioned back on (doc_id,pos); never all-pairs",
    "url_blocklist_filter": "blocklist BROADCAST onto the exploded suffix stream; fan-out bounded by host label count; only (doc_id, suffix) pairs shuffle",
    "media_bmp_pixel_stats": "shuffle-free mapInPandas REAL pixel decode; payload bytes never leave the executor; only the presentation sort exchanges",
    "media_wav_pcm_stats": "shuffle-free mapInPandas REAL PCM decode; same single-stage shape",
    "media_png_pixel_stats": "shuffle-free mapInPandas REAL PNG decode (zlib + filter inversion); same single-stage shape",
    "media_gif_pixel_stats": "shuffle-free mapInPandas REAL GIF decode (hand-rolled variable-width LZW + palette); same single-stage shape",
    "media_jpeg_pixel_stats": "shuffle-free mapInPandas REAL baseline JPEG decode (Huffman + IDCT, DCT-exact payloads); same single-stage shape",
    "dedup_incremental_minhash": "history probe = ONE (j,mh) equi-join against the persisted index (InMemoryTableScan of mh_sigs, no recompute); Jaccard verify joins candidate ids back on 8-byte shingle hashes only",
    "host_opic_priority": "per-round contrib join + partial agg over compact (id,cash,hist) triples; localCheckpoint per round truncates the 3-consumer lineage (plan stays O(1) per round)",
    "decontam_bloom": "bloom flag map-side (MapInPandas over the gram stream BEFORE any join — the bloom-negative majority never reaches a join operator); only the positive slice meets the exact confirm semi-join (AQE broadcasts it at test scale; at a 10^9-gram eval set it becomes a shuffle of the ~fpp-sized slice, never of the full gram stream)",
    "bpe_train_merges": "per-round explode + co-partitioned per-word windows over the VOCAB table only (never the corpus); best-pair agg map-side combinable; per-round tables eagerly checkpointed (plan stays O(1) per round)",
    "bpe_encode_corpus": "merges applied to the distinct-word table once; the corpus word stream meets the word->tokens dictionary in ONE equi-join + per-doc partial agg — no corpus-wide window passes",
    "warc_dedup_digest": "digest computed scan-side in the record-walk kernel output; ONE window exchange on the 16-byte digest classifies response vs revisit — payload bytes never shuffle",
    "host_shard_rendezvous": "HRW argmax as ONE codegen array expression per host row (transform+array_max): no explode, no join, no W-proportional shuffle; only the presentation window exchanges",
    "host_url_hll": "register maxes ride the partial agg (per-partition HLL sketches merge in the shuffle); <=256 rows/host cross the (host,reg) exchange; estimate is codegen integer arithmetic",
    "token_cms_topk": "occurrence counts partial-agg map-side; the d*w cell table (32 rows) and the probe MIN both operate on vocab-sized data only",
    "fetch_latency_quantiles": "ONE hash exchange on host; nearest-rank via in-partition row_number window — no global sort, no interpolation",
    "url_canonical_collapse": "canonical extraction shuffle-free mapInPandas riding the scan; ONE groupBy exchange carrying (canonical_url, member) pairs — bodies never shuffle",
    "sitemap_scope_audit": "pure codegen regexp dir/host extraction + substr-prefix equality; zero joins, zero hash exchanges",
    "warc_cdx_index": "shuffle-free record-walk scan; the only exchange is the (surt, ts14) range sort the index format demands",
    "host_hits_scores": "two edge-join + partial-agg passes per round over (id, score) pairs; per-round localCheckpoint keeps the plan O(1)",
    "url_param_rewrite_mining": "map-side-combinable aggs over (host,param,group) keys; candidate expansion bounded by params-per-host; only 32-hex fps flow",
    "lastmod_trust_score": "one url-window lag pass + one host partial agg over compact capture tuples",
    "politeness_compliance_audit": "one host-window lag pass + partial agg; integer milliseconds, no interval types",
    "adaptive_delay_from_latency": "one host exchange + in-partition sort (nearest-rank p95); clamp/budget pure codegen",
    "url_normalize_savings": "mining aggs + one rebuild groupBy per URL + host rollup; short strings only",
    "sitemap_write_roundtrip": "host-window pagination + ordered-agg per file + shuffle-free mapInPandas parse; bodies never re-exchange",
    "crawl_novelty_kmv": "two-level bottom-k (bucket k-mins then global); exchanges bounded by buckets*k rows per crawl",
    "continuous_crawl_e2e": "text collapses to md5/octet_length in the scan projection; diff joins move (url, fp) pairs; discovery is the bloom-prefiltered exact anti-join; admission the salted bounded top-k; candidates localCheckpointed before the seen-table compaction rewrites the anti-join's input files",
    "media_features": "one shuffle-free Arrow kernel per format arm (decode + grid embed inside the scan); the union's arms never exchange payload bytes",
    "media_audio_features": "shuffle-free Arrow kernel: FLAC decode + segment envelope inside the scan task",
    "dedup_media_embedding_cosine": "equality join on (band_no, band_val) with capped buckets; all-pairs confined within buckets; embeddings are 16 ints — payloads never cross an exchange",
    "media_flac_pcm_stats": "shuffle-free Arrow decode kernel; only the presentation sort exchanges",
    "media_tiff_pixel_stats": "shuffle-free Arrow decode kernel; only the presentation sort exchanges",
    "sitemap_index_write_roundtrip": "one ordered-agg groupBy per host + shuffle-free mapInPandas parse-back; lastmod carried positionally, W3C-validated in the kernel",
    "media_jpeg_color_pixel_stats": "shuffle-free mapInPandas REAL color JPEG decode (interleaved 4:2:0 MCUs, two quant + four Huffman tables, integer-plane JFIF transform); same single-stage shape",
    "media_jpeg_progressive_pixel_stats": "shuffle-free mapInPandas REAL progressive decode (segment pre-pass + coefficient accumulation over 8 scans); same single-stage shape",
    "media_avi_frame_stats": "shuffle-free mapInPandas RIFF walk + per-frame JPEG decode; 1->N cardinality inside the Arrow batch, video bytes never leave the executor",
}


def main() -> None:
    import __spark_entry__ as e

    spark = build_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    qs = e.queries()
    out = [
        "# Physical-plan audit (generated by scripts/dump_plans.py)",
        "",
        f"`.explain('formatted')` at `{SF}`; plan shape is what matters — it",
        "is scale-invariant, the row counts are not. Each section names the",
        "property the 100-TB design depends on, then shows the plan.",
        "",
    ]
    for name, why in AUDITED.items():
        df = qs[name](spark, SF)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        out.append(f"## {name}")
        out.append("")
        out.append(f"**Scale property:** {why}")
        out.append("")
        out.append("```")
        out.append(buf.getvalue().rstrip())
        out.append("```")
        out.append("")
        print(f"dumped {name}", file=sys.stderr)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    bench_dir = os.path.join(repo_root, "BENCH")
    os.makedirs(bench_dir, exist_ok=True)
    with open(os.path.join(bench_dir, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    spark.stop()


if __name__ == "__main__":
    main()
