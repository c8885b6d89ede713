"""Task-level stage metrics via Spark's monitoring REST API (M12).

The reference's request-log middleware (app/main.py:120-160) records
wall-clock + outcome per request; the engine analog for a batch DAG is
shuffle/task telemetry per pipeline stage. PySpark cannot attach a JVM
SparkListener without a py4j callback server, so this module reads the SAME
AppStatusStore the listener feeds through Spark's public monitoring REST
interface (https://spark.apache.org/docs/latest/monitoring.html#rest-api):
`GET <uiWebUrl>/api/v1/applications/<appId>/stages` returns per-stage
executorRunTime, shuffleReadBytes, shuffleWriteBytes, etc.

build_session enables the UI on an ephemeral port by default (DEDUP_UI=0
opts out), so pipeline metrics rows carry real telemetry in default runs.
When the UI is off this degrades to None and callers emit null telemetry
columns.
"""

from __future__ import annotations

import json
import urllib.request


def rest_json(spark, path: str, timeout: float = 5.0):
    """GET <uiWebUrl>/api/v1/applications/<appId>/<path> as JSON, or None
    when the UI/REST server is off or unreachable."""
    base = spark.sparkContext.uiWebUrl
    if not base:
        return None
    app_id = spark.sparkContext.applicationId
    url = f"{base}/api/v1/applications/{app_id}/{path}"
    try:
        with urllib.request.urlopen(url, timeout=timeout) as r:
            return json.loads(r.read())
    except Exception:
        return None


def rest_stage_metrics(spark, timeout: float = 5.0) -> list[dict] | None:
    """All COMPLETE stages' metrics for this application, or None when the
    UI/REST server is off."""
    return rest_json(spark, "stages?status=complete", timeout)


def stage_ids(stages: list[dict] | None) -> set[int]:
    return {s["stageId"] for s in stages or ()}


def task_totals(stages: list[dict] | None,
                exclude_ids: set[int] = frozenset()) -> dict | None:
    """Aggregate task telemetry over the given stages (minus exclude_ids).
    None when the REST API is unavailable."""
    if stages is None:
        return None
    # /stages lists each stage ATTEMPT as its own entry; a stage retried
    # after a fetch failure would double-count its telemetry. Keep only
    # the latest attempt per stageId.
    latest: dict[int, dict] = {}
    for s in stages:
        sid = s["stageId"]
        if (sid not in latest
                or s.get("attemptId", 0) > latest[sid].get("attemptId", 0)):
            latest[sid] = s
    new = [s for sid, s in latest.items() if sid not in exclude_ids]
    return {
        "executor_run_time_ms": sum(s.get("executorRunTime", 0) for s in new),
        "shuffle_read_bytes": sum(s.get("shuffleReadBytes", 0) for s in new),
        "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0)
                                   for s in new),
        "input_bytes": sum(s.get("inputBytes", 0) for s in new),
        "num_tasks": sum(s.get("numTasks", 0) for s in new),
        "n_spark_stages": len(new),
    }
