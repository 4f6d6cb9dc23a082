"""Engine configuration (C9) — the reference's viper yaml/env settings.

Only the keys the engine reads are kept: the Warp 10 endpoints that
control.reverse.reverse_for_route proxies to. Defaults mirror
cmd/root.go:40-94; every key is overridable by a CATALYST_<KEY>
environment variable (dots -> underscores, upper-case), exactly the
reference's env binding scheme. YAML layering is optional (the
container ships no yaml parser requirement — a flat ``key: value``
file is accepted).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, fields


@dataclass
class Config:
    # egress (ref cmd/root.go:46-52)
    warp_endpoint: str = "http://127.0.0.1:8080"
    # K2 reverse-proxy targets (ref cmd/root.go:139-146); delete may
    # point at a different Warp 10 (the reference configures it apart)
    warp_endpoint_delete: str = "http://127.0.0.1:8080"


def load_config(path: str | None = None, env: dict[str, str] | None = None) -> Config:
    """File values (flat ``key: value`` lines) then CATALYST_* env
    overrides, mirroring viper's file < env precedence."""
    env = os.environ if env is None else env
    cfg = Config()
    file_vals: dict[str, str] = {}
    if path and os.path.exists(path):
        with open(path) as f:
            for line in f:
                line = line.strip()
                if not line or line.startswith("#") or ":" not in line:
                    continue
                k, v = line.split(":", 1)
                file_vals[k.strip().lower().replace(".", "_")] = v.strip()
    for fld in fields(Config):
        if fld.name in file_vals:
            setattr(cfg, fld.name, file_vals[fld.name])
        env_key = f"CATALYST_{fld.name.upper()}"
        if env_key in env:
            setattr(cfg, fld.name, env[env_key].strip())
    return cfg
