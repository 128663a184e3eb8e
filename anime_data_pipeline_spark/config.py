"""Pipeline configuration (SURVEY S10).

The reference ships a 386-line argparse→YAML→Munch bridge
(dataruu/utils/make_config.py, Bittensor-derived) whose only job is
nested dotted keys with file overlay. Not a data operation — here it
is a flat dataclass + argparse + a config-file overlay. YAML overlays
(the reference's native format, make_config.py:141-149) load via
PyYAML when present; JSON always works (and is the fallback parser,
JSON being a YAML subset).

Precedence (matching the reference's is_set semantics,
make_config.py:141-222): explicit CLI flag > config file > default.
"""

from __future__ import annotations

import argparse
import json
from dataclasses import dataclass, field, fields

from anime_data_pipeline_spark.operators.bucketing import BucketConfig
from anime_data_pipeline_spark.plans.pipeline import PipelineConfig


@dataclass
class RunConfig:
    """CLI surface of dataruu/run.py:13-28, Spark-shaped."""

    image_dirs: list[str] = field(default_factory=list)
    out_path: str = "metadata_out"
    out_format: str = "parquet"  # parquet | keyed_json
    sidecar_dir: str | None = None
    aesthetic_files: list[str] = field(default_factory=list)
    aesthetic_threshold: float = 0.5
    vocab_csv: str | None = None
    no_upscale: bool = False
    max_reso: str = "1024,1024"
    min_bucket_reso: int = 256
    max_bucket_reso: int = 2048
    bucket_reso_steps: int = 64
    cpus: int | None = None

    def pipeline_config(self) -> PipelineConfig:
        w, h = (int(x) for x in self.max_reso.split(","))
        return PipelineConfig(
            bucket=BucketConfig(
                no_upscale=self.no_upscale,
                max_width=w,
                max_height=h,
                min_size=self.min_bucket_reso,
                max_size=self.max_bucket_reso,
                reso_steps=self.bucket_reso_steps,
            ),
            aesthetic_threshold=self.aesthetic_threshold,
        )


def load_overlay(path: str) -> dict:
    """Parse a config overlay file: YAML via PyYAML when installed
    (reference configs are YAML), else strict JSON. A YAML file with
    no PyYAML fails with a pointed message instead of a JSON trace."""
    text = open(path).read()
    try:
        import yaml
    except ImportError:
        try:
            overlay = json.loads(text)
        except json.JSONDecodeError as e:
            raise SystemExit(
                f"{path}: not valid JSON and PyYAML is not installed "
                f"(install pyyaml to load YAML configs): {e}"
            ) from e
    else:
        overlay = yaml.safe_load(text)
    if not isinstance(overlay, dict):
        raise SystemExit(f"{path}: config overlay must be a mapping")
    return overlay


def parse_args(argv: list[str] | None = None) -> RunConfig:
    p = argparse.ArgumentParser(description="EP1 pipeline (Spark)")
    p.add_argument(
        "--config", type=str, default=None, help="YAML/JSON config overlay"
    )
    for f in fields(RunConfig):
        flag = f"--{f.name}"
        if f.type == "list[str]":
            p.add_argument(flag, nargs="*", default=None)
        elif f.type == "bool":
            p.add_argument(flag, action=argparse.BooleanOptionalAction, default=None)
        else:
            p.add_argument(flag, default=None)
    ns = p.parse_args(argv)

    cfg = RunConfig()
    if ns.config:
        overlay = load_overlay(ns.config)
        for k, v in overlay.items():
            if not hasattr(cfg, k):
                raise SystemExit(f"unknown config key: {k}")
            setattr(cfg, k, v)
    for f in fields(RunConfig):
        v = getattr(ns, f.name)
        if v is not None:  # explicit CLI wins over file overlay
            if f.type in ("int", "int | None"):
                v = int(v)
            elif f.type == "float":
                v = float(v)
            setattr(cfg, f.name, v)
    return cfg
