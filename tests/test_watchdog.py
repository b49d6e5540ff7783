"""Suite-infrastructure tests: the SIGALRM watchdog (a hung test must fail
fast, not eat the verification budget — round 4's CLI deadlock hung pytest
indefinitely) and `_KMEANS_CACHE` session-churn safety (a stopped-then-
recreated SparkSession must not resurrect DataFrames bound to the dead one).

Both run in subprocesses so they cannot disturb the session-scoped spark
fixture shared by the rest of the suite.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import time

from .conftest import SF_TEST_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# A hang in a test body, and one in a session fixture's setup (the
# registry record is built there).
HUNG_TESTS = {
    "test_hang_call.py": (
        "import time\n\n\ndef test_deliberate_hang():\n    time.sleep(600)\n"
    ),
    "test_hang_setup.py": (
        "import time\n\nimport pytest\n\n\n"
        "@pytest.fixture(scope=\"session\")\ndef hung():\n    time.sleep(600)\n\n\n"
        "def test_deliberate_hang(hung):\n    pass\n"
    ),
}


def test_watchdog_fails_hung_test_fast(tmp_path):
    env = dict(os.environ, SPARK_GRAFT_TEST_TIMEOUT="3")
    for file_name, source in HUNG_TESTS.items():
        hang = tmp_path / file_name
        hang.write_text(source)
        t0 = time.monotonic()
        # -p tests.conftest registers the watchdog hooks for the foreign test dir.
        proc = subprocess.run(
            [sys.executable, "-m", "pytest", "-p", "tests.conftest", "-x", "-q", str(hang)],
            cwd=REPO,
            env=env,
            capture_output=True,
            text=True,
            timeout=120,
        )
        elapsed = time.monotonic() - t0
        assert proc.returncode != 0, file_name
        assert "watchdog: test exceeded 3s" in proc.stdout, (file_name, proc.stdout)
        assert elapsed < 60, f"{file_name}: watchdog took {elapsed:.0f}s to fire"


def test_watchdog_passes_fast_test(tmp_path):
    quick = tmp_path / "test_quick.py"
    quick.write_text("def test_quick():\n    assert 1 + 1 == 2\n")
    env = dict(os.environ, SPARK_GRAFT_TEST_TIMEOUT="30")
    proc = subprocess.run(
        [sys.executable, "-m", "pytest", "-p", "tests.conftest", "-x", "-q", str(quick)],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr


def test_kmeans_cache_survives_session_churn():
    """Stop a session, recreate one, re-run embedding_kmeans: must succeed
    (no stale-session DataFrame reuse) and the dead session's cache entry
    must be evicted, not pinned for the process lifetime."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from cl_tagger_batch_processing_spark.session import get_spark
        from cl_tagger_batch_processing_spark.operators import similarity

        sf = {SF_TEST_DIR!r}
        s1 = get_spark(app_name="churn1", cpus=2, shuffle_partitions=2)
        n1 = similarity.embedding_kmeans(s1, sf).count()
        assert len(similarity._KMEANS_CACHE) == 1
        s1.stop()
        s2 = get_spark(app_name="churn2", cpus=2, shuffle_partitions=2)
        assert s2.sparkContext.applicationId != ""
        n2 = similarity.embedding_kmeans(s2, sf).count()
        assert n1 == n2 > 0, (n1, n2)
        keys = list(similarity._KMEANS_CACHE)
        assert len(keys) == 1, keys  # dead session's entry evicted
        assert keys[0][0] == s2.sparkContext.applicationId
        s2.stop()
        print("CHURN_OK", n1)
        """
    )
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stdout + "\n" + proc.stderr
    assert "CHURN_OK" in proc.stdout
