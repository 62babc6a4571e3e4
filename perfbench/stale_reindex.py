"""Reproduce a known defect: re-indexing an edited tree at the same path
in one session returns the previous parse.

``index_project`` persists its parse records and never releases them;
Spark's cache manager matches the second call's identical plan (same
root path, same operators) to that cached data, so the new file
contents are never read. Exits 1 while the defect stands, 0 once fixed.

    python3 perfbench/stale_reindex.py
"""

from __future__ import annotations

import os
import shutil
import sys

from run import HERE, _prepare_env, _stop


def main() -> int:
    work = os.path.join(HERE, ".work", f"stale-{os.getpid()}")
    _prepare_env(work)
    from pyspark.sql import functions as F

    from codegraph_spark.sources.static_index import index_project
    from perfbench import common
    from perfbench.codegen import Project, Size, Truth

    spark, _ = common.start_session(work)
    try:
        project = Project(1, Size(go_pkgs=1, go_files_per_pkg=2, py_modules=2))
        root = os.path.join(work, "project")
        stale = 0
        for version in range(2):
            if version:
                project.edit(1.0)
                shutil.rmtree(root)
            project.write(root)
            want = sorted(d.name for d in Truth(project, root).defs.values()
                          if d.label == "Function")
            nodes, _ = index_project(spark, root)
            got = sorted(r.name for r in nodes.filter(F.col("label") == "Function")
                         .select("name").collect())
            stale += got != want
            print(f"version {version}: {'matches the tree' if got == want else 'STALE'}")
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 1 if stale else 0


if __name__ == "__main__":
    sys.exit(main())
