"""Pipeline configuration.

The reference injects 7 numeric anomaly thresholds at compile time via
Jinja ``{{ var(...) }}`` (reference: dbt_project.yml:18-26) and a run-scoped
``{{ invocation_id }}`` literal (stg_sensor_readings.sql:25). Here they are
a typed config object whose values the models' SQL binds as named
parameter markers (``:temperature_upper``, ``:invocation_id``, …; see
``RunConfig.sql_args``). Spark binds each marker as a literal, so Catalyst
constant-folds them exactly as dbt's text substitution did.
"""

from __future__ import annotations

import dataclasses
import datetime as _dt
import uuid
from dataclasses import dataclass, field

# Driver threads that build independent models at once
# (``PipelineRunner.run``, its only reader): the reference's dbt profile
# runs 4 (profiles.yml.template:24). Read at call time, so a test may
# patch it.
THREADS = 4


@dataclass(frozen=True)
class Thresholds:
    """Anomaly-detection thresholds (reference: dbt_project.yml:18-26).

    ``vibration_lower`` intentionally does not exist — the reference defines
    no lower bound for vibration, which makes fct_anomaly_events emit a null
    lower_threshold for vibration rows (fct_anomaly_events.sql:53-58).
    """

    temperature_upper: float = 85.0
    temperature_lower: float = 10.0
    vibration_upper: float = 9.0
    humidity_upper: float = 90.0
    humidity_lower: float = 15.0
    pressure_upper: float = 1050.0
    pressure_lower: float = 950.0


@dataclass(frozen=True)
class RunConfig:
    """Run-scoped parameters.

    frozen_now: when set, audit columns (``_dbt_loaded_at`` etc.) and
    clock-derived values (``days_since_install``) use this fixed instant
    instead of ``current_timestamp()`` — required for golden-output tests
    (the reference's audit columns are nondeterministic; SURVEY.md §7
    "hard parts" #5).
    full_refresh: incremental models rebuild from scratch (dbt
    ``--full-refresh``; reference: databricks_control_flow.py:196).
    """

    thresholds: Thresholds = field(default_factory=Thresholds)
    invocation_id: str = field(default_factory=lambda: str(uuid.uuid4()))
    frozen_now: _dt.datetime | None = None
    full_refresh: bool = False
    # Warehouse root for materialized tables (parquet). Tests override.
    warehouse_dir: str = "/tmp/dbt_datbricks_demo_spark_warehouse"
    # Medallion namespace prefix, e.g. "iot_dev" → iot_dev_bronze/_silver/_gold
    # (reference: macros/generate_schema_name.sql:9-23).
    target: str = "iot_dev"

    def with_overrides(self, **overrides: object) -> "RunConfig":
        """Return a copy with the given vars replaced (dbt ``--vars``
        semantics). Keys may name RunConfig fields or individual
        Thresholds fields (``temperature_upper=90.0``); unknown keys
        raise instead of being silently ignored."""
        cfg_fields = {f.name for f in dataclasses.fields(RunConfig)}
        thr_fields = {f.name for f in dataclasses.fields(Thresholds)}
        top = {k: v for k, v in overrides.items() if k in cfg_fields}
        thr = {k: v for k, v in overrides.items() if k in thr_fields}
        unknown = sorted(set(overrides) - cfg_fields - thr_fields)
        if unknown:
            raise ValueError(f"unknown config overrides: {unknown}")
        out = dataclasses.replace(self, **top)
        if thr:
            out = dataclasses.replace(
                out, thresholds=dataclasses.replace(out.thresholds, **thr)
            )
        return out

    def sql_args(self) -> dict[str, object]:
        """The values of the models' named parameter markers: the 7
        thresholds, ``invocation_id``, and the frozen clock as
        ``frozen_now`` / ``frozen_today`` — None when the clock runs,
        which the models' ``coalesce`` turns into ``current_timestamp()``
        / ``current_date()``."""
        frozen = self.frozen_now
        return {
            **dataclasses.asdict(self.thresholds),
            "invocation_id": self.invocation_id,
            "frozen_now": frozen,
            "frozen_today": None if frozen is None else frozen.date(),
        }
