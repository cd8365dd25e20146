"""Per-round probe for the one documented environment gap (VERDICT r2 #9):
the Iceberg runtime jar. If it turns up, run `io.read_table` /
`io.read_pages` with `SPARK_GRAFT_TABLE_FORMAT=iceberg` and convert the
README caveat into a test. Prints one JSON line for the round notes.
"""

from __future__ import annotations

import glob
import json
import os


def main() -> None:
    spark_home = os.environ.get("SPARK_HOME", "")
    jar_dirs = [os.path.join(spark_home, "jars"), "/root/.ivy2/jars"]
    iceberg_jars = [j for d in jar_dirs
                    for j in glob.glob(os.path.join(d, "*iceberg*.jar"))]
    print(json.dumps({"iceberg_runtime_jar": bool(iceberg_jars)}))


if __name__ == "__main__":
    main()
