"""S8 — config discovery / parse / merge (the reference's plan language).

Mirrors the *behavior* of /root/reference/config.go: a file or directory of
JSON specs (DiscoverConfigs, config.go:45-63), ``#`` comment stripping
outside strings (StripComments, config.go:158-174), ``$VAR``/``${VAR}`` env
expansion (config.go:128), a 10 MiB size cap (config.go:14,108-111), merge
with conflict errors (MergeConfig, config.go:67-98), and defaulting
(FinalizeConfig, config.go:150-156). The payload is the reference's own
format too (:func:`load_forwarder_config`): files[] groups of paths, static
fields and dead time, which ``run.py --conf`` harvests or tails.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

MAX_CONFIG_BYTES = 10 << 20  # config.go:14
DEFAULT_TIMEOUT_SEC = 15  # config.go:150-156
DEFAULT_DEAD_TIME = "24h"  # config.go:16-22


class ConfigError(ValueError):
    pass


def discover_configs(path: str) -> list[str]:
    """File → [file]; directory → sorted non-hidden entries (config.go:45-63)."""
    if os.path.isfile(path):
        return [path]
    if os.path.isdir(path):
        return [
            os.path.join(path, f)
            for f in sorted(os.listdir(path))
            if not f.startswith(".") and os.path.isfile(os.path.join(path, f))
        ]
    raise ConfigError(f"no such config path: {path}")


def strip_comments(text: str) -> str:
    """Remove ``#`` comments outside double-quoted strings (config.go:158-174)."""
    out: list[str] = []
    for line in text.splitlines():
        in_str = False
        escaped = False
        kept = []
        for ch in line:
            if escaped:
                kept.append(ch)
                escaped = False
                continue
            if ch == "\\" and in_str:
                kept.append(ch)
                escaped = True
                continue
            if ch == '"':
                in_str = not in_str
            if ch == "#" and not in_str:
                break
            kept.append(ch)
        out.append("".join(kept))
    return "\n".join(out)


def load_config(path: str) -> dict:
    """Parse one spec file: size cap → comment strip → env expand → JSON."""
    size = os.path.getsize(path)
    if size > MAX_CONFIG_BYTES:
        raise ConfigError(f"config {path} too large ({size} bytes)")
    with open(path, encoding="utf-8") as fh:
        raw = fh.read()
    cleaned = os.path.expandvars(strip_comments(raw))
    try:
        return json.loads(cleaned) if cleaned.strip() else {}
    except json.JSONDecodeError as e:
        raise ConfigError(f"bad JSON in {path}: {e}") from e


def merge_configs(specs: list[dict]) -> dict:
    """Fold specs; list fields concatenate, scalar conflicts are fatal
    (config.go:67-98: 'Duplicate ... command line option')."""
    merged: dict = {}
    for spec in specs:
        for key, val in spec.items():
            if key not in merged:
                merged[key] = val
            elif isinstance(merged[key], list) and isinstance(val, list):
                merged[key] = merged[key] + val
            elif isinstance(merged[key], dict) and isinstance(val, dict):
                overlap = merged[key].keys() & val.keys()
                if overlap:
                    raise ConfigError(f"duplicate keys {sorted(overlap)} in {key!r}")
                merged[key] = {**merged[key], **val}
            elif merged[key] != val:
                raise ConfigError(f"conflicting values for {key!r}")
    return merged


# --------------------------------------------------------------------------
# The reference's OWN config format (the literal switch-over path): a
# logstash-forwarder.conf with {"network": {...}, "files": [{"paths",
# "fields", "dead time"}, ...]} (config.go:23-43) parses through the same
# discover/strip/expand/merge machinery and drives `run.py --conf` —
# every files[] group harvests its globs and its static fields ride the
# broadcast-enrich dim (harvester.go:84). network.servers / "ssl *" are
# transport config (TLS out of scope per SURVEY §2; routing replaces the
# random server pick, publisher1.go:168-186) — accepted and ignored so an
# existing config runs unmodified.


@dataclass
class FileGroup:
    paths: list[str]
    fields: dict[str, str]
    dead_time: str = DEFAULT_DEAD_TIME


@dataclass
class ForwarderConfig:
    files: list[FileGroup]
    timeout_sec: int = DEFAULT_TIMEOUT_SEC


def parse_duration(s: str) -> float:
    """Go-style duration ('24h', '5m', '10s', '1h30m') → seconds
    (config.go parses FileConfig.DeadTime with time.ParseDuration)."""
    import re

    s = s.strip()
    parts = re.findall(r"(\d+(?:\.\d+)?)(ms|h|m|s)", s)  # ms before m
    if not parts or "".join(n + u for n, u in parts) != s:
        raise ConfigError(f"bad duration: {s!r}")
    unit = {"h": 3600.0, "m": 60.0, "s": 1.0, "ms": 0.001}
    return sum(float(n) * unit[u] for n, u in parts)


def parse_forwarder_config(merged: dict) -> ForwarderConfig:
    files = merged.get("files", [])
    if not isinstance(files, list) or not files:
        raise ConfigError("forwarder config: 'files' must be a non-empty list")
    groups: list[FileGroup] = []
    for i, f in enumerate(files):
        paths = f.get("paths")
        if not isinstance(paths, list) or not paths:
            raise ConfigError(f"files[{i}]: 'paths' must be a non-empty list")
        fields = {str(k): str(v) for k, v in (f.get("fields") or {}).items()}
        dead = str(f.get("dead time", DEFAULT_DEAD_TIME))
        parse_duration(dead)  # validate now, not at poll time
        groups.append(
            FileGroup(paths=[str(p) for p in paths], fields=fields, dead_time=dead)
        )
    net = merged.get("network") or {}
    timeout = int(net.get("timeout", DEFAULT_TIMEOUT_SEC))
    return ForwarderConfig(files=groups, timeout_sec=timeout)


def load_forwarder_config(path: str) -> ForwarderConfig:
    return parse_forwarder_config(
        merge_configs([load_config(f) for f in discover_configs(path)])
    )
