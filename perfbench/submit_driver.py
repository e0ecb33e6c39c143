"""Runs `tools/submit_job.py`'s ``main()`` once per request, in one driver process.

    spark-submit --py-files <zip> perfbench/submit_driver.py <requests dir> tools/submit_job.py

Started by run.py, so every job runs the deployment entry point exactly as
spark-submit would (its own SparkSession, the package from the --py-files
zip) but only the first one pays for a cold JVM. Request ``<i>.json`` in the
requests directory holds ``{"args": [...], "conf": {...}}``: the job's
arguments and Spark settings for its session (set as JVM system properties,
which a new SparkContext reads). The answer is written to ``<i>.done.json`` as
``{"ok", "line", "error", "wall_s"}`` where ``line`` is the job's last stdout
line. A ``stop`` file ends the loop.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import json
import os
import sys
import time
import traceback


def main() -> None:
    from pyspark import SparkContext

    requests, script = sys.argv[1], sys.argv[2]
    SparkContext._ensure_initialized()
    props = SparkContext._jvm.java.lang.System
    spec = importlib.util.spec_from_file_location("submit_job", script)
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    i = 0
    while not os.path.exists(os.path.join(requests, "stop")):
        path = os.path.join(requests, f"{i}.json")
        if not os.path.exists(path):
            time.sleep(0.01)
            continue
        with open(path) as f:
            request = json.load(f)
        sys.argv = [script, *request["args"]]
        for k, v in request["conf"].items():
            props.setProperty(k, v)
        out = io.StringIO()
        t0 = time.perf_counter()
        try:
            with contextlib.redirect_stdout(out):
                job.main()
            reply = {"ok": True, "line": (out.getvalue().strip().splitlines() or [""])[-1]}
        except Exception:  # reported to run.py, which counts the job as failed
            reply = {"ok": False, "error": traceback.format_exc()[-3000:]}
        reply["wall_s"] = time.perf_counter() - t0
        for k in request["conf"]:
            props.clearProperty(k)
        with open(path + ".tmp", "w") as f:
            json.dump(reply, f)
        os.replace(path + ".tmp", os.path.join(requests, f"{i}.done.json"))
        i += 1


if __name__ == "__main__":
    main()
