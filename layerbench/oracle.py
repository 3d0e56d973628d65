"""Expected result digests, computed once per run on DuckDB.

- Registry queries: their ``contract.ORACLES`` SQL over the generated
  star tables.
- Chain steps: the registry's non-recursive DuckDB spellings
  (``SQL_SUMSTAT_QC``, ``SQL_LOCUS_BREAKER``, ``SQL_FIND_OVERLAPS``,
  ``SQL_COLOC``, ``SQL_ECAVIAR``) with the generated ``sumstats`` /
  ``tags`` tables bound in place of the ``SUMSTATS_SQL`` / ``TAGS_SQL``
  CTEs. ``STEP_PROJECTIONS`` maps each step's parquet output onto the
  oracle's columns.

Usage: python3 layerbench/oracle.py --workload NAME --inputs DIR --out FILE
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from check import digest  # noqa: E402
from workloads import CHAIN, WORKLOADS  # noqa: E402

# step output (read back from parquet) -> the oracle's columns
STEP_PROJECTIONS = {
    "sumstat_qc": """SELECT studyId, CAST(n_variants AS BIGINT) AS nVariants,
        ROUND(mean_beta, 6) AS meanBeta,
        CAST(n_variants_sig AS BIGINT) AS nSignificant FROM out""",
    "locus_breaker": """SELECT studyId, chromosome, position, variantId,
        locusStart, locusEnd FROM out""",
    "find_overlaps": """SELECT leftStudyLocusId, rightStudyLocusId, rightStudyType,
        chromosome, tagVariantId,
        ROUND(statistics.left_posteriorProbability, 6) AS left_pp,
        ROUND(statistics.right_posteriorProbability, 6) AS right_pp,
        ROUND(statistics.left_logBF, 6) AS left_logBF,
        ROUND(statistics.right_logBF, 6) AS right_logBF FROM out""",
    "coloc": """SELECT leftStudyLocusId, rightStudyLocusId, rightStudyType, chromosome,
        numberColocalisingVariants, ROUND(h0, 6) AS h0, ROUND(h1, 6) AS h1,
        ROUND(h2, 6) AS h2, ROUND(h3, 6) AS h3, ROUND(h4, 6) AS h4 FROM out""",
    "ecaviar": """SELECT leftStudyLocusId, rightStudyLocusId, rightStudyType, chromosome,
        numberColocalisingVariants, ROUND(clpp, 6) AS clpp,
        ROUND(betaRatioSignAverage, 6) AS betaRatioSignAverage FROM out""",
}
# columns of the oracle that the step does not produce
STEP_ORACLE_DROP = {"sumstat_qc": ["stdBeta"]}


def chain_oracle_sql(query: str, inputs: str) -> str:
    from genetics_spark_coloc_spark import queries as q

    sql = getattr(q, f"SQL_{query.upper()}")
    bound = {
        q.SUMSTATS_SQL.strip(): f"sumstats AS (SELECT * FROM read_parquet('{inputs}/sumstats.parquet'))",
        q.TAGS_SQL.strip(): f"tags AS (SELECT * FROM read_parquet('{inputs}/tags.parquet'))",
    }
    hits = [cte for cte in bound if cte in sql]
    if len(hits) != 1:
        raise ValueError(f"SQL_{query.upper()} does not embed exactly one generated CTE")
    return sql.replace(hits[0], bound[hits[0]])


def step_output_digest(query: str, out_dir: str) -> dict:
    con = duckdb.connect()
    con.execute(f"CREATE VIEW out AS SELECT * FROM read_parquet('{out_dir}/*.parquet')")
    return digest(con.execute(STEP_PROJECTIONS[query]).fetchdf())


def expected(workload: str, inputs: str) -> dict:
    con = duckdb.connect()
    res = {}
    if workload == "gwas_coloc_chain":
        for op in CHAIN:
            df = con.execute(chain_oracle_sql(op["query"], inputs)).fetchdf()
            res[op["name"]] = digest(df.drop(columns=STEP_ORACLE_DROP.get(op["query"], [])))
        return res
    from genetics_spark_coloc_spark.contract import ORACLES
    from genetics_spark_coloc_spark.sources.tables import TABLES

    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs}/{t}.parquet')")
    for name in WORKLOADS[workload]["ops"]:
        res[name] = digest(con.execute(ORACLES[name]).fetchdf())
    return res


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(args.out, "w") as fh:
        json.dump(expected(args.workload, args.inputs), fh)


if __name__ == "__main__":
    main()
