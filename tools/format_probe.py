#!/usr/bin/env python
"""Avro / protobuf capability probe (round 16 — VERDICT r15 #4, the
JDBC-probe pattern from tools/jdbc_real_probe.py).

The two SURVEY-§2-adjacent source formats that stayed gated all build:
``spark.read.format("avro")`` needs the EXTERNAL ``spark-avro``
connector (the core ``avro-*.jar``s that ship inside pyspark are the
serialization library only, not the DataSource), and
``from_protobuf``/``to_protobuf`` need ``spark-protobuf`` plus a
compiled descriptor.  Neither is pip/apt-installable here, so the
standing posture is: re-probe each round at zero cost, un-gate a real
test only when something appears, never hand-roll a codec.

This tool makes the probe FUNCTIONAL, not guesswork:

1. glob every plausible jar cache for connector jars (generic
   patterns — deliberately no hardcoded cache paths or hostnames);
2. try the Python-side codecs (``avro``, ``fastavro``,
   ``google.protobuf``);
3. actually attempt an avro write on a live session and record the
   error CLASS when gated (``DATA_SOURCE_NOT_FOUND`` vs anything
   unexpected), plus the importability of
   ``pyspark.sql.protobuf.functions``.

Writes PROBE_r{N}.json either way.  Exit 0 = probe ran (gated or
not); the json records which capabilities are live.

Usage::

    python tools/format_probe.py [--out PROBE_r16.json]
"""

from __future__ import annotations

import argparse
import glob
import importlib
import json
import os
import sys


def find_connector_jars() -> dict[str, list[str]]:
    """Basenames of spark-avro / spark-protobuf connector jars found
    by GENERIC glob over the usual local jar caches.  Only basenames
    are returned/recorded — full cache paths can embed
    environment-specific hostnames that must not land in artifacts."""
    roots = [
        os.path.expanduser("~/.ivy2"),
        os.path.expanduser("~/.cache/coursier"),
        os.path.expanduser("~/.m2"),
        os.environ.get("SPARK_HOME", ""),
    ]
    try:
        import pyspark

        roots.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    found: dict[str, list[str]] = {"spark-avro": [], "spark-protobuf": []}
    for root in roots:
        if not root or not os.path.isdir(root):
            continue
        for name in found:
            for p in glob.glob(f"{root}/**/*{name}*.jar", recursive=True):
                found[name].append(os.path.basename(p))
    return {k: sorted(set(v)) for k, v in found.items()}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="PROBE_r16.json")
    args = ap.parse_args()

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)

    jars = find_connector_jars()
    py_codecs = {}
    for mod in ("avro", "fastavro", "google.protobuf"):
        try:
            importlib.import_module(mod)
            py_codecs[mod] = True
        except ImportError:
            py_codecs[mod] = False

    # Functional avro attempt on a real session: the only honest test
    # of whether format("avro") resolves.  Cheap (3 rows).
    from data_ingest_utils_spark.plans.cache import SCRATCH
    from data_ingest_utils_spark.session import get_session

    spark = get_session("dius-format-probe")
    os.makedirs(SCRATCH, exist_ok=True)
    target = f"{SCRATCH}/probe_avro_{os.getpid()}"
    avro_live, avro_error = False, None
    try:
        spark.range(3).write.mode("overwrite").format("avro").save(target)
        n = spark.read.format("avro").load(target).count()
        avro_live = n == 3
    except Exception as e:  # noqa: BLE001 — the error class IS the result
        avro_error = type(e).__name__
        msg = str(e)
        for marker in ("DATA_SOURCE_NOT_FOUND", "ClassNotFoundException",
                       "Failed to find data source"):
            if marker in msg:
                avro_error = f"{avro_error}:{marker}"
                break
    finally:
        import shutil

        shutil.rmtree(target, ignore_errors=True)

    try:
        importlib.import_module("pyspark.sql.protobuf.functions")
        pb_fns_importable = True
    except ImportError:
        pb_fns_importable = False

    # Honesty contract (code-review r16): only the avro arm is
    # FUNCTIONALLY verified (a live write on the session).  A jar
    # basename in a build cache is a LEAD to investigate — nothing
    # puts it on this session's classpath, and it may be a wrong
    # Scala/Spark version — so it must never read as "live".
    any_codec = any(py_codecs.values())
    if avro_live:
        posture = "UN-GATE avro: live roundtrip succeeded — add a real test"
    elif jars["spark-avro"] or jars["spark-protobuf"] or any_codec:
        posture = (
            "INVESTIGATE: connector jar candidates or python codecs "
            "present but NOT classpath-verified "
            f"(jars={ {k: len(v) for k, v in jars.items()} }, "
            f"codecs={py_codecs}) — probe a fresh session with the jar "
            "on spark.jars before un-gating, per the JDBC pattern"
        )
    else:
        posture = (
            "still gated — no connector jars discoverable and no python "
            "codecs importable; re-probe next round (no hand-rolled codecs)"
        )
    out = {
        "tool": "format_probe",
        "connector_jars_found": jars,
        "python_codecs": py_codecs,
        "avro_datasource_live": avro_live,
        "avro_gate_error": avro_error,
        "protobuf_functions_importable": pb_fns_importable,
        # candidates only: presence in a cache is not loadability
        "protobuf_jar_candidates": len(jars["spark-protobuf"]),
        "posture": posture,
    }
    with open(os.path.join(repo, args.out), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
