"""Build the fork-free local filesystem jar from its Java source.

    python -m us_flight_delay_data_pipeline_spark.jvm.build

Compiles ``src/`` with ``javac --release 17`` against the Hadoop client
API jar that ships inside pyspark, and writes ``localfs.jar`` next to
this file (or to the path given as the one argument). Entries are
sorted and carry a fixed timestamp, so a rebuild with the same compiler
gives the same bytes; the jar records that compiler's version in
``META-INF/javac-version``, since another JDK build may emit other
class bytes from the same source. ``session.get_spark`` puts the jar on the driver
classpath; see its module docstring for why.
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import tempfile
import zipfile

from ..session import LOCALFS_JAR as JAR

SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "src")
_EPOCH = (1980, 1, 1, 0, 0, 0)  # earliest zip timestamp
JAVAC_ENTRY = "META-INF/javac-version"


def hadoop_api_jar() -> str:
    import pyspark
    jars = glob.glob(os.path.join(os.path.dirname(pyspark.__file__), "jars",
                                  "hadoop-client-api-*.jar"))
    if len(jars) != 1:
        raise FileNotFoundError(f"expected one hadoop-client-api jar, got {jars}")
    return jars[0]


def javac_version() -> str:
    """``javac -version``, e.g. ``javac 17.0.20``."""
    done = subprocess.run(["javac", "-version"], check=True,
                          capture_output=True, text=True)
    return (done.stdout + done.stderr).strip()


def jar_javac_version(jar: str = JAR) -> str:
    with zipfile.ZipFile(jar) as zf:
        return zf.read(JAVAC_ENTRY).decode().strip()


def compile_classes(out_dir: str) -> dict[str, bytes]:
    """Compile ``src/`` into ``out_dir``; return {jar entry name: bytes}."""
    sources = sorted(glob.glob(os.path.join(SRC, "**", "*.java"), recursive=True))
    subprocess.run(["javac", "--release", "17", "-Xlint:all", "-Werror",
                    "-cp", hadoop_api_jar(), "-d", out_dir, *sources],
                   check=True)
    classes = {}
    for path in glob.glob(os.path.join(out_dir, "**", "*.class"), recursive=True):
        with open(path, "rb") as fh:
            classes[os.path.relpath(path, out_dir).replace(os.sep, "/")] = fh.read()
    return classes


def jar_classes(jar: str = JAR) -> dict[str, bytes]:
    with zipfile.ZipFile(jar) as zf:
        return {n: zf.read(n) for n in zf.namelist() if n.endswith(".class")}


def build(jar: str = JAR) -> None:
    with tempfile.TemporaryDirectory() as tmp:
        entries = compile_classes(tmp)
    entries[JAVAC_ENTRY] = (javac_version() + "\n").encode()
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as zf:
        for name in sorted(entries):
            zf.writestr(zipfile.ZipInfo(name, _EPOCH), entries[name],
                        zipfile.ZIP_DEFLATED)


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else JAR
    build(out)
    print(out)
