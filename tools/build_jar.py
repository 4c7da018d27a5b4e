"""Build the engine's JVM jar from its Java sources.

    python tools/build_jar.py

Compiles ``jsmr_spark/jvm/*.java`` with the installed ``javac --release
17`` against Spark's ``hadoop-client-api`` jar and writes
``jsmr_spark/jvm/jsmr-localfs.jar`` with a fixed ``jar --date``, so the
same sources and compiler give the same bytes. The jar is committed:
nothing is compiled when a session starts. Run this after editing a
``.java`` file; ``tests/test_jvm_fs.py`` fails while the committed jar's
classes differ from what the sources compile to.
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JVM_DIR = os.path.join(ROOT, "jsmr_spark", "jvm")
JAR = os.path.join(JVM_DIR, "jsmr-localfs.jar")
# Any fixed instant; it only has to be the same on every build.
JAR_DATE = "2020-01-01T00:00:02Z"


def hadoop_api_jar() -> str:
    from pyspark.find_spark_home import _find_spark_home

    (jar,) = glob.glob(os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar"))
    return jar


def compile_classes(out_dir: str) -> None:
    """Compile every ``jsmr_spark/jvm/*.java`` into ``out_dir``."""
    sources = sorted(glob.glob(os.path.join(JVM_DIR, "*.java")))
    subprocess.run(
        ["javac", "--release", "17", "-cp", hadoop_api_jar(), "-d", out_dir, *sources],
        check=True,
    )


def main() -> int:
    with tempfile.TemporaryDirectory(prefix="jsmr_jar_") as classes:
        compile_classes(classes)
        subprocess.run(
            ["jar", "--create", f"--date={JAR_DATE}", "--file", JAR, "-C", classes, "."],
            check=True,
        )
    print(JAR)
    return 0


if __name__ == "__main__":
    sys.exit(main())
