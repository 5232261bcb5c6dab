"""Shared subprocess helpers for the scaling scripts."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# engine knobs that change WHAT a child job measures; a leftover shell
# export must never silently alter (or crash) a scripted protocol run, so
# protocol scripts scrub these and pass only what they set explicitly
PROTOCOL_ENV_KNOBS = ("SPARK_GRAFT_ALGOS", "SPARK_GRAFT_PR_ITERS",
                      "SPARK_GRAFT_PARTS", "SPARK_GRAFT_CPUS")


def clean_env(**overrides: str) -> dict:
    """os.environ minus the protocol knobs, plus explicit overrides."""
    env = {k: v for k, v in os.environ.items()
           if k not in PROTOCOL_ENV_KNOBS}
    env.update({k: str(v) for k, v in overrides.items()})
    return env


def run_cmd(cmd: list[str], env: dict | None = None,
            timeout: int = 7200) -> str:
    out = subprocess.run(cmd, env=env or dict(os.environ),
                         capture_output=True, text=True, timeout=timeout)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"failed: {cmd}")
    return out.stdout


def last_json(out: str) -> dict:
    """The last JSON object line of a child's stdout (its result record)."""
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if not lines:
        raise SystemExit("child printed no JSON result line")
    return json.loads(lines[-1])
