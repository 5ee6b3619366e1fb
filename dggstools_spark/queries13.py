"""Driver-contract queries, batch 13 (round 5): corpus composition QA —

- mixture_plan: temperature-sampled (α=1/2) source reweighting in exact
  integer ppm (sqrt is the one correctly-rounded float op, so weights are
  engine-exact — the T5/mT5 multilingual sampling step);
- text_normalize: CCNet-style dedup-key normalization with per-doc
  value-checked md5 of the normal form (Java ∩ RE2 pattern subset);
- dup_profile: per-source exact-duplicate mass (docs vs distinct
  normalized fingerprints) — the "which source needs dedup first" metric.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .queries3 import load
from .registry import register


def q_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.mixture import mixture_plan

    docs = load(spark, sf_dir, "documents")
    return mixture_plan(docs, "text", "source")


def _oracle_mixture_plan() -> str:
    from .operators.mixture import mixture_plan_sql

    return mixture_plan_sql("documents", "text", "source")


register("mixture_plan", q_mixture_plan, _oracle_mixture_plan())


# The synthetic corpus is already lowercase-alnum, so the query plants
# deterministic case/punctuation noise (shared snippet, queries10._page_sql
# convention) — the normalization must then provably undo it: the oracle
# value-checks removed_ppm and the md5 of every normalized document.
_AUG_SQL = ("concat(upper(substring(text, 1, 40)), ' -- ', text,"
            " ' !!! (v2.0, #', CAST(doc_id AS {c}), ')')")


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from .operators.normalize import normalize_report

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_AUG_SQL.format(c="STRING")).alias("text"))
    return normalize_report(docs, "text", "doc_id").drop("normalized")


def _oracle_text_normalize() -> str:
    from .operators.normalize import normalize_report_sql

    aug = _AUG_SQL.format(c="VARCHAR")
    return normalize_report_sql(
        f"(SELECT doc_id, {aug} AS text FROM documents)", "text", "doc_id")


register("text_normalize", q_text_normalize, _oracle_text_normalize())


def q_dup_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.mixture import dup_profile

    docs = load(spark, sf_dir, "documents")
    return dup_profile(docs, "text", "doc_id", "source")


def _oracle_dup_profile() -> str:
    from .operators.mixture import dup_profile_sql

    return dup_profile_sql("documents", "text", "source")


register("dup_profile", q_dup_profile, _oracle_dup_profile())
