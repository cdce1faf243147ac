"""Declared verification queries (SURVEY.md §2.G) + training-pipeline ops.

Each query is registered once with:
- a Spark implementation ``fn(spark, sf_dir) -> DataFrame`` (DataFrame API
  or Spark SQL — whichever is the clearer spelling of the operator), and
- an optional DuckDB oracle SQL template (ANSI SQL over the same parquet
  fixtures) used by the driver's differential correctness gate.

``QuerySpec.fn`` runs the body on ``session.exec_profile(spark, <fixture
bytes of sf_dir>)``: the registry is the one place the execution policy
is applied, so query bodies never name a profile.

Oracle templates may contain ``{docsis}`` which renders to the absolute
path of the repo-generated docsis parquet for the scale factor under test
(the driver pre-registers views only for the 10 driver tables; docsis is
read via ``read_parquet``).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

from ..datagen import docsis_path_for
from ..session import exec_profile
from ..tables import _fixture_bytes


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle_template: Optional[str]
    doc: str = ""

    def oracle_for(self, sf_dir: str) -> Optional[str]:
        if self.oracle_template is None:
            return None
        return self.oracle_template.format(docsis=docsis_path_for(sf_dir))


QUERIES: dict[str, QuerySpec] = {}


def query(name: str, oracle: Optional[str] = None):
    """Decorator registering a declared query. The decorated function
    stays the raw body; the registered ``fn`` is a plain closure (no
    ``__wrapped__``, so no caller can reach around the policy)."""

    def deco(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            return fn(exec_profile(spark, _fixture_bytes(sf_dir)), sf_dir)

        QUERIES[name] = QuerySpec(name, run, oracle, doc=(fn.__doc__ or "").strip())
        return fn

    return deco


def all_queries() -> dict[str, QuerySpec]:
    # import side-effect registers everything
    from . import (  # noqa: F401
        analytics,
        extended,
        llm,
        pipeline,
        relational,
        streaming_batch,
    )

    return QUERIES
