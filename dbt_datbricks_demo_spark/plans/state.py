"""State-based model selection (dbt `state:modified` / slim CI parity).

dbt's slim CI builds only the models whose compiled definition changed
versus a saved manifest, plus everything downstream of them. The
Spark-native equivalent fingerprints each model's *definition* — the
SQL text it runs and its materialization config — and compares against
a saved state file:

    fp = fingerprints()                        # current state
    save_state(state_dir)                      # after a green prod run
    names = modified_plus_downstream(state_dir)  # in CI
    runner.run(sources, select_names=names)

At 100 TB this is the difference between re-materializing one changed
silver model (and its gold children) and rebuilding the world.
"""

from __future__ import annotations

import hashlib
import json
import os

from dbt_datbricks_demo_spark.plans.dag import MODELS

STATE_FILE = "manifest_fingerprints.json"


def fingerprints() -> dict[str, str]:
    """md5 per model over everything that defines its output: the SQL
    text (whose placeholders are its deps), materialization, keys."""
    out = {}
    for name, m in MODELS.items():
        parts = [
            m.sql,
            m.materialization,
            repr(m.unique_key),
            repr(m.watermark_col),
            m.schema_suffix,
        ]
        out[name] = hashlib.md5("\n".join(parts).encode()).hexdigest()
    return out


def save_state(state_dir: str) -> str:
    os.makedirs(state_dir, exist_ok=True)
    path = os.path.join(state_dir, STATE_FILE)
    with open(path, "w") as f:
        json.dump(fingerprints(), f, indent=1, sort_keys=True)
    return path


def modified(state_dir: str) -> set[str]:
    """Models whose definition differs from the saved state (new models
    count as modified; models deleted from the registry are ignored)."""
    path = os.path.join(state_dir, STATE_FILE)
    with open(path) as f:
        saved = json.load(f)
    now = fingerprints()
    return {n for n, fp in now.items() if saved.get(n) != fp}


def downstream_closure(names: set[str]) -> set[str]:
    """names plus every model transitively depending on them."""
    out = set(names)
    changed = True
    while changed:
        changed = False
        for n, m in MODELS.items():
            if n not in out and any(d in out for d in m.deps):
                out.add(n)
                changed = True
    return out


def modified_plus_downstream(state_dir: str) -> set[str]:
    """The dbt `state:modified+` selector."""
    return downstream_closure(modified(state_dir))
