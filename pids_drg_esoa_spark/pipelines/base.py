"""Pipeline contract: the reference's dataclass template, Spark inside.

Reference shape (pipelines/base.py:14-62,115-131; registry.py:12-41):
a registry of category pipelines dispatched on ITEM_REF_CODE, each
running a fixed 4-stage template — pre_run → prepare_inputs → match →
post_run — threading an artifacts dict and an optional timing hook.

Here each stage is a DataFrame→DataFrame transformation on one shared
SparkSession; "artifacts" are DataFrames (lazy plans) instead of CSVs
on disk, so the whole pipeline is one Catalyst DAG unless a stage
explicitly checkpoints.
"""

from __future__ import annotations

import re
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class PipelineContext:
    spark: SparkSession
    inputs: dict[str, DataFrame] = field(default_factory=dict)
    params: dict[str, object] = field(default_factory=dict)
    artifacts: dict[str, DataFrame] = field(default_factory=dict)


class BasePipeline:
    """4-stage template (reference base.py:115-131)."""

    item_ref_code: str = ""

    def pre_run(self, ctx: PipelineContext) -> None:  # refresh deps
        pass

    def prepare_inputs(self, ctx: PipelineContext) -> None:  # derive prep tables
        pass

    def match(self, ctx: PipelineContext) -> None:  # the core join/rank plan
        raise NotImplementedError

    def post_run(self, ctx: PipelineContext) -> None:  # metrics, summaries
        pass

    def run(
        self,
        ctx: PipelineContext,
        timing_hook: Callable[[str, float], None] | None = None,
    ) -> PipelineContext:
        """Run the four stages in order. ``timing_hook(name, seconds)``
        gets each stage's driver wall time. The stages mostly build lazy
        plans (a dim may be materialized on the way), and the artifacts
        execute only when the caller writes or collects them, so these
        are plan-construction seconds, not execution times."""
        for stage in (self.pre_run, self.prepare_inputs, self.match, self.post_run):
            t0 = time.time()
            stage(ctx)
            if timing_hook:
                timing_hook(stage.__name__, time.time() - t0)
        return ctx


_REGISTRY: dict[str, type[BasePipeline]] = {}


def register_pipeline(cls: type[BasePipeline]) -> type[BasePipeline]:
    """Class-decorator registry keyed on ITEM_REF_CODE
    (reference registry.py:12-41)."""
    if not cls.item_ref_code:
        raise ValueError(f"{cls.__name__} must set item_ref_code")
    _REGISTRY[cls.item_ref_code] = cls
    return cls


def get_pipeline(item_ref_code: str) -> BasePipeline:
    try:
        return _REGISTRY[item_ref_code]()
    except KeyError:
        raise KeyError(
            f"no pipeline registered for {item_ref_code!r}; have {sorted(_REGISTRY)}"
        ) from None


def slugify_item_ref_code(code: str) -> str:
    """F37 (reference pipelines/utils.py:10-15): CamelCase → snake."""
    return re.sub(r"(?<=[a-z0-9])(?=[A-Z])", "_", code).lower()
