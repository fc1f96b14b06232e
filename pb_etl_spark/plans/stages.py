"""Salted (content-addressed) incremental stage graph (SURVEY.md §4.2-4.3).

Spark deliberately has no cross-run memoization, so this thin driver-side
layer re-expresses the reference's one real execution feature: output path =
``{base}/{name}-{sha256(lineage)[:6]}`` where the lineage hash covers the
stage name, version, significant params, and — recursively — every upstream
stage's hash (semantics of /root/reference/pb_etl/luigi/task.py:103-134 and
SaltedOutput :83-100). Effects:

- memoization across runs (skip any stage whose salted _SUCCESS exists),
- automatic cascade invalidation when any upstream version/param changes,
- side-by-side coexistence of pipeline versions on disk.

Determinism notes: params are serialized sorted (the reference warns about
dict ordering at task.py:113-115); hashing is sha256 over UTF-8.

The stage body receives (spark, out_path, dep_paths) and must write a
dataset with a ``_SUCCESS`` flag (any ``df.write.parquet`` does). Stages
with ``ephemeral=True`` (the reference's output-less FinalResults,
tasks.py:428-444) always run and return a value instead of a path.

Resume after a crash: the body writes into a fresh staging sibling that is
renamed onto the salted path only once it holds ``_SUCCESS``, so a run
killed mid-write never leaves a partial dataset where a rerun reads or
writes; a partial directory from any other writer is removed before the
stage re-runs. One runner per base directory at a time.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import SparkSession

from pb_etl_spark.sources.parquet import dataset_exists

SALT_LEN = 6


@dataclass
class Stage:
    name: str
    fn: Callable[..., Any]  # fn(spark, out_path, dep_paths: dict[str, str]) -> Any
    version: str = "1.0"
    deps: dict[str, "Stage"] = field(default_factory=dict)
    params: dict[str, Any] = field(default_factory=dict)
    ephemeral: bool = False  # no output; always runs (reference FinalResults)

    def salt(self) -> str:
        """Recursive lineage hash (task.py:103-134 semantics). Every
        component is fed with its binding name and a delimiter — hashing
        bare child salts would let graphs with swapped dep wiring (or
        name/version boundary shifts like 'ab'+'c' vs 'a'+'bc') collide
        and wrongly reuse cached outputs. Memoized per instance: the
        runner and out_path both call it per node, and the recursion is
        exponential on diamond graphs without caching."""
        cached = getattr(self, "_salt_cache", None)
        if cached is not None:
            return cached
        h = hashlib.sha256()
        for dep_name in sorted(self.deps):
            h.update(f"dep:{dep_name}={self.deps[dep_name].salt()}\x00".encode())
        h.update(f"name:{self.name}\x00version:{self.version}\x00".encode())
        for k in sorted(self.params):
            h.update(f"param:{k}={self.params[k]!r}\x00".encode())
        self._salt_cache = h.hexdigest()[:SALT_LEN]
        return self._salt_cache

    def out_path(self, base: str) -> str:
        return f"{base.rstrip('/')}/{self.name}-{self.salt()}"


class StageRunner:
    """Topological runner with salted skip — the Spark-world equivalent of
    ``luigi.build(..., local_scheduler=True)`` (reference cli.py:13-16)."""

    def __init__(self, spark: SparkSession, base: str):
        self.spark = spark
        self.base = base
        self.ran: list[str] = []
        self.skipped: list[str] = []
        self._results: dict[str, Any] = {}

    def run(self, stage: Stage) -> Any:
        """Run ``stage`` (and transitively its deps), returning its output
        path — or its return value for ephemeral stages."""
        key = f"{stage.name}-{stage.salt()}"
        if key in self._results:
            return self._results[key]
        dep_paths = {name: self.run(dep) for name, dep in stage.deps.items()}
        if stage.ephemeral:
            result = stage.fn(self.spark, None, dep_paths)
            self.ran.append(stage.name)
        else:
            out = stage.out_path(self.base)
            if dataset_exists(out):
                self.skipped.append(stage.name)
            else:
                self._materialize(stage, out, dep_paths)
                self.ran.append(stage.name)
            result = out
        self._results[key] = result
        return result

    def _materialize(self, stage: Stage, out: str, dep_paths: dict[str, str]) -> None:
        """Run the body into a staging sibling, then rename it onto ``out``.
        Leftovers of an interrupted run (a staging dir, or an ``out`` with
        no ``_SUCCESS``) are removed first."""
        for stale in glob.glob(f"{glob.escape(out)}__staging_*") + [out]:
            shutil.rmtree(stale, ignore_errors=True)
        staging = f"{out}__staging_{uuid.uuid4().hex[:8]}"
        try:
            stage.fn(self.spark, staging, dep_paths)
            if not dataset_exists(staging):
                raise RuntimeError(
                    f"stage {stage.name} did not produce a complete dataset at {out}"
                )
            os.rename(staging, out)
        except BaseException:
            shutil.rmtree(staging, ignore_errors=True)
            raise
