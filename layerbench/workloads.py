"""The benchmark's workloads: what each runs and at what size.

``gwas_coloc_chain`` runs the post-GWAS steps through
``steps.run_step``; ``registry_fixed_cost`` runs registry queries
(``contract.QUERIES``) collected to the driver as Arrow.

``registry_fixed_cost`` is chosen by rule, not by timing: from each
``queries*.py`` module, in registration order, the first query that
(a) is not a registry twin of a chain step and (b) has a non-recursive
oracle (no ``WITH RECURSIVE``; see the determinism note in
``tools/compare_oracle.py``). The list is frozen here so that later
registry edits do not silently change the workload.
"""

from __future__ import annotations

# step -> registry query whose oracle checks it, with the query's params
CHAIN = [
    {"name": "summary_statistics_qc", "step": "summary_statistics_qc", "query": "sumstat_qc",
     "inputs": {"summary_statistics": "sumstats.parquet"},
     "params": {"pval_threshold": 5e-8}},
    {"name": "locus_breaker_clumping", "step": "locus_breaker_clumping", "query": "locus_breaker",
     "inputs": {"summary_statistics": "sumstats.parquet"},
     "params": {"baseline_pvalue_cutoff": 1e-5, "distance_cutoff": 25_000,
                "pvalue_cutoff": 1e-8, "flanking_distance": 10_000}},
    {"name": "overlaps", "step": "overlaps", "query": "find_overlaps",
     "inputs": {"credible_set": "credible_set.parquet"},
     "params": {"intra_study_overlap": False}},
    {"name": "colocalisation.coloc", "step": "colocalisation", "query": "coloc",
     "inputs": {"credible_set": "credible_set.parquet"},
     "params": {"coloc_method": "coloc", "priorc1": 1e-4, "priorc2": 1e-4, "priorc12": 1e-5}},
    {"name": "colocalisation.ecaviar", "step": "colocalisation", "query": "ecaviar",
     "inputs": {"credible_set": "credible_set.parquet"},
     "params": {"coloc_method": "ecaviar"}},
]

FIXED_COST = [
    "pvalue_filter",            # queries
    "most_severe_consequence",  # queries_annot
    "finemap_abf",              # queries_extra
    "impute_zscores",           # queries_impute
    "finngen_finemapping",      # queries_ingest
    "interval_andersson",       # queries_intervals
    "ld_annotate",              # queries_ld
    "intra_study_overlaps",     # queries_more
    "embedding_near_dup",       # queries_neardup
    "pz_regression",            # queries_scale
    "credible_set_log10bf",     # queries_study
]

# gen: arguments of gen.py
WORKLOADS = {
    "gwas_coloc_chain": {
        "ops": [op["name"] for op in CHAIN],
        "gen": {"loci": 3000},
        "why": "the parquet write, which runs each step's shuffle/window/join jobs, takes about three "
               "quarters of a step; the driver-side build about one quarter",
    },
    "registry_fixed_cost": {
        "ops": FIXED_COST,
        "gen": {"sf": 0.01},
        "why": "executor work near zero, so per-query Catalyst, job scheduling and DataFrame "
               "construction dominate",
    },
}
