"""Process set-up for a benchmark run and the few package entry points
every workload needs: the SparkSession factory, the query registry and
the operator memo reset.

Only public names of ``goeventstream_spark`` are used, and optional ones
(``load_registry``, ``operators.clear_shared_caches``) are looked up at
call time, so the package can add or remove them without an edit here.
"""

from __future__ import annotations

import os
import shlex
import subprocess
import sys
import time

# Fixed local parallelism: the same task and shuffle-partition layout on
# every host, so outputs and per-layer counts repeat exactly.
CPUS = 4
DRIVER_MEM = "2g"


def configure(root: str, work: str, event_log_dir: str | None, cpus: int = CPUS) -> None:
    """Point the Spark launcher, its Python workers and every temporary
    file at ``work``; with ``event_log_dir`` set, enable the Spark event
    log there. Must run before the first SparkSession is created."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import the package from the checkout: without this
    # the stateful serve operators fail on every worker.
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    args = ["--driver-java-options", f"-Djava.io.tmpdir={tmp}",
            "--conf", "spark.ui.showConsoleProgress=false"]
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{event_log_dir}",
            "--conf", "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def start_session():
    """(spark, seconds to get a usable session)."""
    t0 = time.perf_counter()
    from goeventstream_spark import get_spark

    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def cold_setup(tracer, root: str, warm):
    """The set-up a new driver process pays, once: ``get_spark`` (which
    launches the JVM), the registry import in a fresh interpreter, and
    ``warm(spark)``. Returns (spark, what ``warm`` returned, the seconds
    of each part)."""
    with tracer.span("setup"):
        with tracer.span("session.start"):
            spark, start_s = start_session()
        with tracer.span("registry.import"):
            import_s = registry_import_seconds(root)
        t0 = time.perf_counter()
        with tracer.span("warmup"):
            out = warm(spark)
        warm_s = time.perf_counter() - t0
    return spark, out, {"session.start_s": start_s, "registry.import_s": import_s,
                        "warmup_s": warm_s}


def load_registry() -> dict:
    """The query registry, loaded the way the package loads it."""
    import importlib
    import pkgutil

    import goeventstream_spark
    from goeventstream_spark import queries

    loader = getattr(queries, "load_registry", None) or getattr(
        goeventstream_spark, "load_registry", None
    )
    if loader is not None:
        reg = loader()
        return reg if isinstance(reg, dict) else queries.QUERIES
    for m in pkgutil.iter_modules(goeventstream_spark.__path__):
        if m.name.startswith("queries"):
            importlib.import_module(f"goeventstream_spark.{m.name}")
    return queries.QUERIES


def registry_import_seconds(root: str) -> float:
    """Wall time of loading the registry in a fresh interpreter (the
    cost a new driver process pays), measured inside that interpreter."""
    code = (
        "import time; from perfbench import engine; t = time.perf_counter(); "
        "engine.load_registry(); print(time.perf_counter() - t)"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=root, check=True,
        capture_output=True, text=True, timeout=120,
    )
    return float(out.stdout.strip().splitlines()[-1])


def clear_caches() -> None:
    """Drop session-scoped operator memos before a query, where the
    package still has them."""
    from goeventstream_spark import operators

    clear = getattr(operators, "clear_shared_caches", None)
    if clear is not None:
        clear()
