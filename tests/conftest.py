import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"
# the session's local[N] and shuffle partitions; SPARK_GRAFT_CPUS sets it
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))

# --- hypervisor-wave self-heal (VERDICT r16 item 2) ------------------------
# Spark's PythonWorkerFactory.createSimpleWorker has a HARDCODED 10 s
# connect-back timeout (no conf raises it in 4.1): when the sandbox
# hypervisor grants ~1 of 32 cores (the documented contention mode that
# bench.py self-heals around), spawning the Python planner worker for a
# streaming source can exceed it and the streaming query dies with
# "SocketTimeoutException: Timed out while waiting for the Python worker to
# connect back" — which is how the r16 driver run lost
# test_exactly_once.py::test_dlq_replay_after_crash_no_duplicates (no code
# in that round touched streaming). The same createSimpleWorker path also
# surfaces as "Python worker failed to connect back" (SparkException,
# observed killing test_io.py::test_sink_connector_exports_topic during an
# r17 wave with the identical createSimpleWorker stack). The rerun below
# triggers ONLY on those signatures, waits for the wave to pass, and
# re-runs the full test protocol with fresh function-scoped fixtures (a
# new tmp_path; the session Spark stays — only the worker spawn failed).
# Restarting a streaming query is exactly the crash-replay path the
# exactly-once tests exercise on purpose, so a rerun can never mask a real
# failure of a different kind; a deterministic worker crash still fails
# after the bounded reruns.

WAVE_SIGS = (
    "Timed out while waiting for the Python worker to connect back",
    "Python worker failed to connect back",
)
WAVE_RERUNS = 2
WAVE_SLEEP = 45  # seconds — same wave-clearing pause bench.py uses


def _wave_failed(reports) -> bool:
    for r in reports:
        if getattr(r, "failed", False) and any(
            sig in (r.longreprtext or "") for sig in WAVE_SIGS
        ):
            return True
    return False


def pytest_runtest_protocol(item, nextitem):
    from _pytest.runner import runtestprotocol

    item.ihook.pytest_runtest_logstart(nodeid=item.nodeid, location=item.location)
    reruns = []
    for attempt in range(WAVE_RERUNS + 1):
        reports = runtestprotocol(item, nextitem=nextitem, log=False)
        # ``_initrequest`` (fresh function-scoped fixtures) is private pytest
        # API: without it, report the failure as it is instead of rerunning
        if (
            not _wave_failed(reports)
            or attempt == WAVE_RERUNS
            or not hasattr(item, "_initrequest")
        ):
            break
        note = (
            f"Python-worker connect-back timeout under a hypervisor wave — "
            f"rerun {attempt + 1}/{WAVE_RERUNS} in {WAVE_SLEEP}s"
        )
        reruns.append(note)
        sys.stderr.write(f"\n# {item.nodeid}: {note}\n")
        time.sleep(WAVE_SLEEP)
        item._initrequest()
    for r in reports:
        # the final report carries every rerun, so reports and junit
        # properties show that one happened
        if reruns:
            r.user_properties.append(("wave_reruns", len(reruns)))
            r.sections.append(("wave reruns", "\n".join(reruns)))
        item.ihook.pytest_runtest_logreport(report=r)
    item.ihook.pytest_runtest_logfinish(nodeid=item.nodeid, location=item.location)
    return True


_SPARK = None  # populated by the session fixture; used by hypothesis tests
# (hypothesis @given can't take pytest fixtures directly)


@pytest.fixture(scope="session")
def spark():
    from pulsar_3_2_codedump_spark.session import get_spark
    from pulsar_3_2_codedump_spark.sources import register

    s = get_spark("tests", cpus=CPUS)
    s.conf.set("spark.sql.shuffle.partitions", str(CPUS))
    register(s)
    global _SPARK
    _SPARK = s
    yield s


@pytest.fixture(scope="session")
def plan_audit(spark):
    """One product-mode sweep of the registry's plans (tools/plan_audit.py),
    shared by the broadcast-flip and redundant-scan gates."""
    from pulsar_3_2_codedump_spark.queries import load_all
    from tools.plan_audit import sweep

    return sweep(spark, load_all(), SF_DIR)


@pytest.fixture()
def tmp_root(tmp_path):
    return str(tmp_path)


@pytest.fixture(autouse=True)
def _release_shared_frames_between_tests():
    # shared DISK_ONLY frames have a per-query lifecycle (ADVICE r13); the
    # suite is one long session, so release after every test to keep blocks
    # bounded and plans cache-splice-free.
    yield
    from pulsar_3_2_codedump_spark.catalog import release_shared_frames

    release_shared_frames()
