"""The benchmark's workloads. Query lists are fixed; the seed sets the
order of each pass and generates the reference_pipeline inputs.

BENCHMARK.json lists the workloads a benchmark round runs
(suite_sf0.1, reference_pipeline); text_4x and streaming_sf0.1 run when
named or with --workload all. A run is a fresh JVM with 4-12 s of
set-up, and 4 + 22 runs per listed workload must fit in the round's
hour. README.md has the numbers behind each choice.
"""

WORKLOADS = {
    # a sample of the registry on the bench scale: one or two short
    # queries from 11 of the 14 modules, two of them streams (windowed
    # aggregation and dedup state). Fixed per-query cost (registry call,
    # planning, scheduling, stream start) is a large share, as in the full
    # suite. MlQueries (5-7 s per query), GraphOps (q110: 2.4 s warm, 6 s
    # cold) and BpeTrain (q122: 2 s) are left out: with them a run took
    # 58-73 s on 4 cores, and 26 runs of each workload no longer fit the
    # round's hour
    "suite_sf0.1": {
        "queries": [
            "q02_topk_brands", "q63_cube",                 # Relational
            "q99_gap_fill",                                # WindowQueries
            "q15_dedup_exact",                             # Dedup
            "q65_hyperplane_lsh", "q71_lsh_index_probe",   # Similarity
            "q106_approx_mad",                             # TextAnalysis
            "q26_multimodal_features",                     # Multimodal
            "q27_stream_tumbling", "q53_stream_dedup",     # StreamingQueries
            "q59_stratified_sample",                       # ScaleOps
            "q72_snapshot_diff",                           # EtlPipeline
            "q149_mixture_reweight",                       # CurationOps
            "q119_centroid_drift",                         # DriftOps
        ],
    },
    # per-row text kernels on the 4-copy graft.tools.ScaleUp replica:
    # executor work dominates, planning is a minor share
    "text_4x": {
        "copies": 4,
        "queries": ["q24_token_stats", "q25_fingerprint", "q103_bpe_pair_counts"],
    },
    # the reference's own jobs on seeded inputs: GKG JSONL through
    # GdeltPipeline.run (ETL, parquet write/read-back, analysis, ML fit,
    # Markdown, PNG) and an HTML corpus through NlpAnalysis.topPhrases.
    # The GKG export covers the two labelled weeks only: GdeltPipeline.run
    # fails on rows labelled "other" (its week classifier is binary).
    "reference_pipeline": {
        "gkg_rows": 5000,
        "gkg_other_share": 0.0,
        "html_pages": 300,
    },
    # one stream per state-store shape: windowed aggregation, dedup,
    # stream-stream join
    "streaming_sf0.1": {
        "queries": ["q27_stream_tumbling", "q53_stream_dedup", "q56_stream_stream_join"],
    },
}
