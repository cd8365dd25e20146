"""North-rule packaging check: the pipeline must run via
`spark-submit --py-files dist/blog_parser_spark.zip job.py` — i.e. with the
package shipped as a zip to executors, not importable from the cwd.

Builds the dist zip, runs job.py under spark-submit against a small synthetic
pages corpus from an EMPTY working directory (so only the --py-files zip can
satisfy imports), then validates the fan-out output + manifest and that a
second invocation resumes (no bucket re-runs).

    python tools/submit_smoke.py
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def sh(cmd: list[str], **kw) -> subprocess.CompletedProcess:
    print("+", " ".join(cmd), flush=True)
    return subprocess.run(cmd, check=True, text=True, capture_output=True, **kw)


def main() -> int:
    sh(["make", "-C", REPO, "dist"])
    zip_path = os.path.join(REPO, "dist", "blog_parser_spark.zip")
    if not os.path.exists(zip_path):
        raise SystemExit(zip_path)

    work = tempfile.mkdtemp(prefix="spark_graft_submit_")
    pages = os.path.join(work, "pages.parquet")
    out = os.path.join(work, "out")

    # build a small pages corpus (uses the repo env; the submit below does not)
    build = (
        "import sys; sys.path.insert(0, %r); "
        "from blog_parser_spark.session import get_spark; "
        "from blog_parser_spark.sources import io; "
        "s = get_spark('build', master='local[4]', shuffle_partitions=8); "
        "io.synth_pages(s, '/root/testdata/sf0.001').coalesce(4)"
        ".write.mode('overwrite').parquet(%r)" % (REPO, pages))
    sh([sys.executable, "-c", build])

    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    submit = shutil.which("spark-submit")
    if not submit:
        raise SystemExit("spark-submit not on PATH")
    cmd = [submit, "--master", "local[4]",
           "--conf", "spark.sql.shuffle.partitions=8",
           "--conf", "spark.sql.session.timeZone=UTC",
           "--py-files", zip_path,
           os.path.join(REPO, "job.py"),
           "--pages", pages, "--out", out, "--buckets", "8"]
    # cwd=work (empty): imports can ONLY come from the --py-files zip
    r1 = subprocess.run(cmd, cwd=work, env=env, text=True, capture_output=True)
    if r1.returncode != 0:
        print(r1.stdout[-3000:]); print(r1.stderr[-3000:])
        return 1
    stats1 = json.loads(r1.stdout.strip().splitlines()[-1])
    print("run1:", stats1)

    # resume: everything already durable -> zero rows processed
    r2 = subprocess.run(cmd, cwd=work, env=env, text=True, capture_output=True)
    if r2.returncode != 0:
        print(r2.stderr[-3000:])
        return 1
    stats2 = json.loads(r2.stdout.strip().splitlines()[-1])
    print("run2:", stats2)

    # stats report CUMULATIVE manifest totals: a resumed run with nothing
    # to do leaves them unchanged (no bucket re-ran, nothing double-counted)
    ok = (stats1.get("rows", 0) > 0
          and stats2.get("rows") == stats1.get("rows")
          and stats2.get("buckets_done") == stats1.get("buckets_done")
          and os.path.isdir(os.path.join(out, "manifest")))
    print("PASS" if ok else "FAIL")
    shutil.rmtree(work, ignore_errors=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
