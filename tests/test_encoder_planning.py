"""Planning a join on the expression encoder's output stays fast.

The encoder is a ~50k-node projection.  Over a file source, a join on the
encoded ``cellid`` used to hang the optimizer (constraint inference pushed
``isnotnull(cellid)`` into the encoder tree, then dynamic partition pruning
and the runtime bloom filter walked it) or exit the JVM.  ``get_spark``
turns those rules off.  The query is planned in a child process with a hard
timeout, so a hang or a JVM exit fails this test only."""

import json
import os
import signal
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from dggstools_spark.functions import encode_sql
from dggstools_spark.session import get_spark
from dggstools_spark.sources import synth
spark = get_spark("encoder-planning")
docs = synth.with_lonlat(spark.read.parquet({docs!r}), "doc_id")
for res in (1, 8):
    enc = encode_sql.spark_encode(docs, "lon", "lat", res)
    q = enc.join(enc.select("cellid").distinct(), "cellid")
    t0 = time.perf_counter()
    q._jdf.queryExecution().optimizedPlan()
    print("PLAN_S:" + json.dumps([res, time.perf_counter() - t0]), flush=True)
spark.stop()
"""


def test_uncut_encoder_self_join_plans_fast(sf_dir):
    code = CHILD.format(repo=REPO, docs=f"{sf_dir}/documents.parquet")
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="2g")
    proc = subprocess.Popen([sys.executable, "-c", code], env=env, text=True,
                            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=180)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)  # the JVM too
        proc.communicate()
        raise AssertionError("encoder self-join did not plan within 180 s")
    times = dict(json.loads(line[len("PLAN_S:"):])
                 for line in out.splitlines() if line.startswith("PLAN_S:"))
    assert sorted(times) == [1, 8], f"child exited {proc.returncode}: {out[-500:]}"
    assert all(t < 2.0 for t in times.values()), times
