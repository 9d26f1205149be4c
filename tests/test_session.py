"""``get_spark`` only builds the session: no thread, no Spark job.

The test suite shares one session, and a second SparkContext cannot live
in the same process, so the fresh session is started in a subprocess.
"""

import json
import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = textwrap.dedent(
    """
    import json, sys, threading, time
    sys.path.insert(0, sys.argv[1])

    started = []
    _start = threading.Thread.start

    def _recording_start(self, *a, **kw):
        target = getattr(self, "_target", None)
        started.append([self.name, getattr(target, "__module__", None)])
        return _start(self, *a, **kw)

    threading.Thread.start = _recording_start

    from elasticsearch_analysis_combo_spark.session import get_spark

    spark = get_spark("fresh_session_probe", cores=2)
    time.sleep(5)
    jobs = list(spark.sparkContext.statusTracker().getJobIdsForGroup(None))
    print(json.dumps({"jobs": jobs, "threads": started}))
    spark.stop()
    """
)


def test_get_spark_launches_no_jobs():
    env = dict(os.environ, SPARK_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, REPO],
        env=env, capture_output=True, text=True, timeout=300, check=True,
    ).stdout
    report = json.loads(out.strip().splitlines()[-1])
    assert report["jobs"] == []
    package = "elasticsearch_analysis_combo_spark"
    ours = [t for t in report["threads"] if (t[1] or "").startswith(package)]
    assert ours == [], report["threads"]
