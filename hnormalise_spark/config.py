"""Pipeline configuration with the reference's monoid override chain.

Re-expression of /root/reference/src/HNormalise/Config.hs: a config is
loaded as user ⊕ system ⊕ defaults where the LEFTMOST defined value
wins per field (Config.hs:231-251; defaults :180-224). Sockets/ports
become table/sink URIs here; the ``fields`` output projection drives
jsonout.encode_normalised in batch and streaming alike (Config.hs:205 /
Internal.hs:110).

YAML is optional (import-guarded); dicts/JSON work everywhere.
"""

from __future__ import annotations

import dataclasses
import json
from dataclasses import dataclass, field


@dataclass
class InputConfig:
    # canonical tokenized table (BASELINE.json input_hint) or raw lines
    path: str | None = None
    format: str = "parquet"           # a key of streaming.INPUTS


@dataclass
class SinkConfig:
    # the success/failure/counts fan-out (ZeroMQ ports in the reference,
    # Config.hs:93-124; durable tables here)
    out_dir: str | None = None
    json_line: bool = True


@dataclass
class RunConfig:
    streaming: bool = False
    repartition: int = 0
    enrich: bool = False


@dataclass
class PipelineConfig:
    input: InputConfig = field(default_factory=InputConfig)
    sink: SinkConfig = field(default_factory=SinkConfig)
    run: RunConfig = field(default_factory=RunConfig)
    # output-field projection: list of [out_key, envelope_field] pairs
    # (Maybe [(Text, Text)], Internal.hs:110); None = default projection
    fields: list[tuple[str, str]] | None = None


def _merge_section(cls, *layers: dict):
    """Leftmost-defined-wins per field (the reference's <> on Maybe)."""
    kwargs = {}
    for f in dataclasses.fields(cls):
        for layer in layers:
            if layer and f.name in layer and layer[f.name] is not None:
                kwargs[f.name] = layer[f.name]
                break
    return cls(**kwargs)


def merge_configs(*layers: dict) -> PipelineConfig:
    """user ⊕ system ⊕ defaults (Config.hs:245-251): earlier layers
    override later ones field-by-field; dataclass defaults are the
    final fallback."""
    cfg = PipelineConfig(
        input=_merge_section(InputConfig, *[d.get("input") for d in layers]),
        sink=_merge_section(SinkConfig, *[d.get("sink") for d in layers]),
        run=_merge_section(RunConfig, *[d.get("run") for d in layers]),
    )
    for layer in layers:
        if layer and layer.get("fields") is not None:
            cfg.fields = [tuple(p) for p in layer["fields"]]
            break
    return cfg


def load_config(user_path: str | None = None, system_path: str | None = None) -> PipelineConfig:
    """Load + merge config files (YAML if available, else JSON). A
    path that does not exist raises FileNotFoundError: skipping it
    would silently drop the user's ``fields`` and sink settings."""
    layers = [_read_file(p) for p in (user_path, system_path) if p]
    return merge_configs(*layers) if layers else PipelineConfig()


def _read_file(path: str) -> dict:
    with open(path) as fh:
        text = fh.read()
    try:
        import yaml  # type: ignore

        return yaml.safe_load(text) or {}
    except ImportError:
        return json.loads(text)
