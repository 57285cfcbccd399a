"""Example Airflow DAGs invoking the Spark engine via spark-submit.

The reference orchestrates each pipeline as a multi-task Airflow DAG
(extract -> parallel transforms -> load -> cleanup) with parquet
handoffs in /tmp between tasks (dags/eligibilty_etl.py:357-370,
dags/clinics_resubmission_etl.py:116-123). In the Spark engine that
whole task graph is ONE job: graft.pipeline.Pipelines composes the
stages as a single plan (the shared extract is materialized exactly
once — SURVEY.md E6 — so there is no file handoff and no cleanup
task), and graft.pipeline.JobRunner is the spark-submit CLI with the
empty-input short-circuit (E4), failure notification (E5), and
idempotent upsert load (D2) built in. Airflow therefore only needs
ONE operator per DAG: schedule it, run it, alert on non-zero exit.

Cadences mirror the reference exactly (SURVEY.md section 3):
  - eligibility + predictions: every ~4h, cron "0 23,4,8,12,16,20 * * *"
    (dags/eligibilty_etl.py:55)
  - resubmission: daily 07:30 (dags/clinics_resubmission_etl.py:45;
    the region-level variant runs 07:00, dags/resubmission_etl.py:45)
  - incremental events: rides the eligibility cadence; the durable
    high-water mark in <outDir>/state replaces the reference's
    4.5h-window-with-30-min-overlap re-read (sql/eligibility_enhanced
    .sql:72-75), so a delayed or missed run never loses rows.

retries=2 matches the reference's default_args (eligibilty_etl.py:41);
the engine's own Retry/circuit-breaker handles per-call transients
INSIDE a run, so Airflow retries only whole-run failures.

This file is an orchestration example — the engine has no Airflow
dependency and is fully testable without it (JobRunnerSpec).
"""

from datetime import datetime, timedelta

from airflow import DAG
from airflow.operators.bash import BashOperator

GRAFT_JAR = "{{ var.value.get('graft_jar', '/opt/graft/graft-engine.jar') }}"
SF_DIR = "{{ var.value.get('graft_sf_dir', '/data/warehouse') }}"
OUT_DIR = "{{ var.value.get('graft_out_dir', '/data/graft_out') }}"

# JobRunner builds its session with graft.GraftSession, which sets UTC, the
# extensions and the rest of the shared conf, and keeps spark-submit's master.
SPARK_SUBMIT = (
    "spark-submit --class graft.pipeline.JobRunner "
    f"{GRAFT_JAR}"
)

DEFAULT_ARGS = {
    "owner": "data-eng",
    "retries": 2,
    "retry_delay": timedelta(minutes=5),
    # JobRunner.runNotified leaves a durable failure record under
    # <outDir>/_notifications AND exits non-zero, so Airflow's own
    # failure handling (email/callbacks) still sees every failure.
}


def _job_dag(dag_id: str, schedule: str, job: str) -> DAG:
    dag = DAG(
        dag_id=dag_id,
        default_args=DEFAULT_ARGS,
        start_date=datetime(2026, 1, 1),
        schedule_interval=schedule,
        catchup=False,
        # One running instance per DAG: the upsert load is idempotent
        # (re-running a window re-merges the same keys), but two
        # CONCURRENT writers to one target is not a supported mode.
        max_active_runs=1,
        tags=["graft"],
    )
    with dag:
        BashOperator(
            task_id=f"run_{job}",
            bash_command=f"{SPARK_SUBMIT} {job} {SF_DIR} {OUT_DIR}",
        )
    return dag


# Every ~4h through the working day (reference: dags/eligibilty_etl.py:55).
eligibility_dag = _job_dag(
    "graft_eligibility_etl", "0 23,4,8,12,16,20 * * *", "eligibility")

# Predictions ride the same cadence as eligibility in the reference
# (run_predictions.py is invoked from the same scheduling unit).
predictions_dag = _job_dag(
    "graft_predictions_etl", "0 23,4,8,12,16,20 * * *", "predictions")

# Daily 07:30 (reference: dags/clinics_resubmission_etl.py:45). The
# reference instantiates extract/transform/load once per business unit;
# Pipelines.resubmission performs the five-clinic fan-out inside the
# single job (a broadcast cross join over the materialized extract), so
# there is one task here, not five.
resubmission_dag = _job_dag(
    "graft_resubmission_etl", "30 7 * * *", "resubmission")

# Incremental event ingestion with a durable high-water mark; safe to
# run at any cadence (a missed run is caught up by the next one).
incremental_dag = _job_dag(
    "graft_incremental_events", "0 23,4,8,12,16,20 * * *", "incremental")
