"""Imaging job settings with the reference's 3-way precedence.

SURVEY.md §3.1: settings materialize from (1) a JSON string argument,
else (2) a JSON config file, else (3) environment variables prefixed
``TRANSFORMATION_JOB_`` — same contract as the reference's pydantic
model (`models.py:23-79`), same defaults (chunk 128³, factor [2,2,2],
4 levels).

Divergences, by design:
- ``compressor_name`` is ``zstd`` (default), ``zlib`` or ``none``.  The
  reference writes Blosc zstd clevel 3 with byte shuffle; here the
  default is plain numcodecs zstd level 1 behind a ``shuffle`` filter,
  written with pyarrow's zstd (imaging/zarr_sink.py::_make_codec), so
  no Blosc install is needed and stock zarr readers still decode it.
- ``num_of_partitions``/``partition_to_process`` are HONORED for
  compatibility: the reference round-robins stacks across N independent
  job instances (`smartspim_job.py:30-41`) because it has no cluster
  scheduler.  One Spark app replaces all N instances (the default,
  num_of_partitions=1), but callers who still launch N instances get
  the same deterministic split (imaging/job.py::partition_stacks) and
  partition-0-only derivatives upload.
- There is no ingest-route setting: the job has one route, the fused
  band tasks, whose band plan fits the memory envelope by itself
  (imaging/fused.py).  Unknown keys are ignored, so a payload that
  still carries the old ``ingest`` key validates unchanged.
"""

from __future__ import annotations

import json
import os
from enum import Enum
from pathlib import Path
from typing import Any, Literal, Optional

from pydantic import BaseModel, Field, model_validator

from aind_smartspim_data_transformation_spark.imaging.zarr_sink import (
    DEFAULT_COMPRESSOR,
)

ENV_PREFIX = "TRANSFORMATION_JOB_"


class CompressorName(str, Enum):
    ZSTD = "zstd"
    ZLIB = "zlib"
    NONE = "none"


class ImagingJobSettings(BaseModel):
    """Validated job settings (fixed, declared schema)."""

    input_source: Path
    output_directory: Path
    s3_location: Optional[str] = None
    num_of_partitions: int = 1
    partition_to_process: int = 0
    compressor_name: CompressorName = CompressorName(DEFAULT_COMPRESSOR)
    compressor_kwargs: dict[str, Any] = Field(default_factory=lambda: {"level": 1})
    chunk_size: list[int] = Field(default_factory=lambda: [128, 128, 128])
    scale_factor: list[int] = Field(default_factory=lambda: [2, 2, 2])
    downsample_levels: int = 4
    # "quarantine": a corrupt slice becomes a zero-filled plane at its
    # z position plus a dead-letter triage row instead of failing the
    # job, on either ingest route (imaging/job.py).
    on_error: Literal["fail", "quarantine"] = "fail"

    @model_validator(mode="after")
    def _check_partitioning(self) -> "ImagingJobSettings":
        # The N-instance contract (reference `smartspim_job.py:30-41`)
        # only makes sense for 0 <= partition_to_process < N; out of
        # range would otherwise surface as a bare IndexError deep in
        # run_imaging_job, or silently process ALL stacks while
        # skipping the derivatives upload.
        if self.num_of_partitions < 1:
            raise ValueError(
                f"num_of_partitions must be >= 1, got {self.num_of_partitions}"
            )
        if not 0 <= self.partition_to_process < self.num_of_partitions:
            raise ValueError(
                "partition_to_process must be in "
                f"[0, num_of_partitions={self.num_of_partitions}), "
                f"got {self.partition_to_process}"
            )
        return self

    @classmethod
    def from_json_str(cls, payload: str) -> "ImagingJobSettings":
        return cls.model_validate_json(payload)

    @classmethod
    def from_config_file(cls, path: str | Path) -> "ImagingJobSettings":
        with open(path) as f:
            return cls.model_validate(json.load(f))

    @classmethod
    def from_env(cls, environ: Optional[dict[str, str]] = None) -> "ImagingJobSettings":
        env = environ if environ is not None else os.environ
        fields = {}
        for key, raw in env.items():
            if not key.startswith(ENV_PREFIX):
                continue
            name = key[len(ENV_PREFIX) :].lower()
            if name not in cls.model_fields:
                continue
            try:
                fields[name] = json.loads(raw)
            except (json.JSONDecodeError, ValueError):
                fields[name] = raw
        return cls.model_validate(fields)

    @classmethod
    def resolve(
        cls,
        json_arg: Optional[str] = None,
        config_file: Optional[str] = None,
        environ: Optional[dict[str, str]] = None,
    ) -> "ImagingJobSettings":
        """JSON arg > config file > env vars (reference precedence)."""
        if json_arg:
            return cls.from_json_str(json_arg)
        if config_file:
            return cls.from_config_file(config_file)
        return cls.from_env(environ)
