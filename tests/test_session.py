"""The session factory and its Python daemon hook (``rlv._spark_daemon``).

Spark's workers call ``importlib.invalidate_caches()`` at the start of every
task.  Under the hook, the ``zipimporter``s over Spark's own archives skip
that directory re-read; a user's ``addPyFile`` zip keeps it.  The worker
probe counts directory reads per archive (``zipimport._read_directory``),
never time.
"""

from __future__ import annotations

import os
import re
import uuid
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CONF = "spark.python.daemon.module"
# the conf as a string literal or a --conf argument
SETS_CONF = re.compile(r"[\"']spark\.python\.daemon\.module[\"'=]|"
                       r"spark\.python\.daemon\.module=")


def _probe(mod_name):
    """Worker function: on a worker's first task, install a counting spy
    on ``zipimport._read_directory``; on every task, report the archives
    read since the worker's previous task ended, which covers this
    task's setup.  ``mod_name``, if given, is imported inside the task."""

    def run(rows):
        import os
        import sys
        import zipimport

        for _ in rows:  # a worker that leaves input unread is not reused
            pass

        state = getattr(zipimport, "_rlv_probe", None)
        if state is None:
            state = zipimport._rlv_probe = {"tasks": 0, "reads": []}

            def spy(archive, real=zipimport._read_directory,
                    log=state["reads"]):
                log.append(archive)
                return real(archive)

            zipimport._read_directory = spy
        state["tasks"] += 1
        reads = list(state["reads"])
        value = None
        if mod_name is not None:
            value = __import__(mod_name).VALUE
        archives = sorted({
            imp.archive for imp in list(sys.path_importer_cache.values())
            if isinstance(imp, zipimport.zipimporter)
        })
        state["reads"].clear()
        yield (os.getpid(), state["tasks"], reads, value, archives,
               os.environ.get("SPARK_HOME"))

    return run


def _run(sc, mod_name=None):
    return sc.parallelize([0], 1).mapPartitions(_probe(mod_name)).collect()[0]


def _spark_archives(paths, spark_home):
    home = os.path.realpath(spark_home) + os.sep
    return [p for p in paths if os.path.realpath(p).startswith(home)]


def test_make_session_sets_the_daemon_hook(spark):
    assert spark.conf.get(CONF) == "rlv._spark_daemon"


def test_only_the_session_factory_sets_the_daemon_module():
    setters = set()
    for dirpath, dirnames, files in os.walk(REPO):
        dirnames[:] = [d for d in dirnames if not d.startswith(".")]
        for fn in files:
            path = os.path.join(dirpath, fn)
            if not fn.endswith(".py") or path == os.path.abspath(__file__):
                continue
            with open(path, encoding="utf-8") as f:
                if SETS_CONF.search(f.read()):
                    setters.add(os.path.relpath(path, REPO))
    assert setters == {os.path.join("rlv", "session.py")}


def test_reused_worker_skips_spark_archives_only(spark, tmp_path):
    sc = spark.sparkContext
    seen: dict[int, list] = {}

    def until_reuse(mod_name=None, min_tasks=2, jobs=40):
        for _ in range(jobs):
            pid, n, reads, value, archives, home = _run(sc, mod_name)
            seen.setdefault(pid, []).append((n, reads, value))
            if len(seen[pid]) >= min_tasks:
                return pid, archives, home
        raise AssertionError(f"no worker served {min_tasks} tasks: {seen}")

    pid, archives, home = until_reuse()
    assert home, "SPARK_HOME is not set in the worker"
    # the worker imports through Spark's archives, so the stock
    # invalidation would re-read them on this task
    assert _spark_archives(archives, home), archives
    n, reads, _ = seen[pid][-1]
    assert n >= 2
    assert not _spark_archives(reads, home), reads

    # a zip added after the first job keeps the stock invalidation: it is
    # imported from in the next task and re-read in the task after that
    mod_name = f"rlv_probe_{uuid.uuid4().hex}"
    zpath = tmp_path / f"{mod_name}.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.writestr(f"{mod_name}.py", "VALUE = 42\n")
    sc.addPyFile(str(zpath))
    seen.clear()
    pid, _, home = until_reuse(mod_name)
    assert [v for _, _, v in seen[pid]] == [42] * len(seen[pid])
    _, reads, _ = seen[pid][-1]
    assert any(os.path.basename(p) == zpath.name for p in reads), reads
    assert not _spark_archives(reads, home), reads
