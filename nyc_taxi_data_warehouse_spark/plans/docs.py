"""Model documentation / lineage artifact — `dbt docs generate` parity.

The reference's transformation DAG ends by generating and publishing model
docs (`dags/dbt_transformation_dag.py:110-113`). The engine equivalent walks
the :class:`~.pipeline.ModelRun` outputs and emits a machine-readable
manifest (model → upstream deps, columns+types, layer) plus a human
markdown rendering. Schemas come from the live DataFrames' analyzed plans,
so the artifact never drifts from the code; the dependency edges mirror the
wiring in :func:`~.pipeline.run_models` and are cross-checked by test.
"""

from __future__ import annotations

import json

from .pipeline import ModelRun

# model → (layer, upstream models); sources are pseudo-nodes.
MODEL_DAG: dict[str, tuple[str, list[str]]] = {
    "trips_source": ("source", []),
    "weather_source": ("source", []),
    "stg_taxi_trips": ("staging", ["trips_source"]),
    "stg_weather": ("staging", ["weather_source"]),
    "int_trips_enriched": ("intermediate", ["stg_taxi_trips"]),
    "int_weather_hourly": ("intermediate", ["stg_weather"]),
    "mart_trips_weather": ("mart", ["int_trips_enriched", "int_weather_hourly"]),
    "mart_daily_metrics": ("mart", ["int_trips_enriched", "int_weather_hourly"]),
    "mart_zone_analysis": ("mart", ["int_trips_enriched"]),
    "fare_daily_features": ("feature", ["mart_daily_metrics", "weather_source"]),
}

_RUN_ATTRS = {
    "stg_taxi_trips": "stg_trips",
    "stg_weather": "stg_weather",
    "int_trips_enriched": "enriched",
    "int_weather_hourly": "weather_hourly",
    "mart_trips_weather": "mart_trips_weather",
    "mart_daily_metrics": "mart_daily_metrics",
    "mart_zone_analysis": "mart_zone_analysis",
    "fare_daily_features": "fare_daily_features",
}


def topo_order() -> list[str]:
    """Deterministic topological order of the model DAG (Kahn, name-sorted)."""
    deps = {m: set(d) for m, (_, d) in MODEL_DAG.items()}
    out: list[str] = []
    while deps:
        ready = sorted(m for m, d in deps.items() if not d)
        if not ready:
            raise ValueError("cycle in MODEL_DAG")
        out.extend(ready)
        for m in ready:
            del deps[m]
        for d in deps.values():
            d.difference_update(ready)
    return out


def generate_manifest(run: ModelRun) -> dict:
    """The lineage+schema manifest for one model run."""
    models = {}
    for name in topo_order():
        layer, upstream = MODEL_DAG[name]
        entry: dict = {"layer": layer, "depends_on": upstream}
        attr = _RUN_ATTRS.get(name)
        if attr is not None:
            # the lazy plan, so documenting a run materializes nothing
            df = run.plans[attr] if attr in run.plans else getattr(run, attr)
            entry["columns"] = [
                {"name": f.name, "type": f.dataType.simpleString()}
                for f in df.schema.fields
            ]
        models[name] = entry
    edges = sorted(
        (up, m) for m, (_, ups) in MODEL_DAG.items() for up in ups
    )
    return {"models": models, "edges": [list(e) for e in edges]}


def manifest_markdown(manifest: dict) -> str:
    """Human rendering of the manifest (the `dbt docs` landing page)."""
    lines = ["# Warehouse model documentation", ""]
    for name, entry in manifest["models"].items():
        lines.append(f"## {name}  `{entry['layer']}`")
        ups = ", ".join(entry["depends_on"]) or "—"
        lines.append(f"Depends on: {ups}")
        if "columns" in entry:
            lines.append("")
            lines.append("| column | type |")
            lines.append("|---|---|")
            lines.extend(
                f"| {c['name']} | {c['type']} |" for c in entry["columns"]
            )
        lines.append("")
    return "\n".join(lines)


def write_docs(run: ModelRun, out_dir: str) -> tuple[str, str]:
    """Emit manifest.json + models.md under `out_dir`; returns the paths."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    manifest = generate_manifest(run)
    jpath = os.path.join(out_dir, "manifest.json")
    mpath = os.path.join(out_dir, "models.md")
    with open(jpath, "w") as f:
        json.dump(manifest, f, indent=2)
    with open(mpath, "w") as f:
        f.write(manifest_markdown(manifest))
    return jpath, mpath
