"""Rebuild the plug-in jar from ``src/`` with ``javac --release 17``.

    python -m google_cloud_ecommerce_spark.jvm.build [out.jar]

Compiles against the ``hadoop-client-api`` jar that ships with PySpark
and zips the classes with fixed timestamps, so the same compiler gives
a byte-identical jar. Without an argument the committed jar is
overwritten.
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import tempfile
import zipfile

from google_cloud_ecommerce_spark.jvm import JAR, SRC_DIR

_EPOCH = (1980, 1, 1, 0, 0, 0)
_MANIFEST = b"Manifest-Version: 1.0\r\n\r\n"


def _hadoop_api_jar() -> str:
    import pyspark

    jars = glob.glob(
        os.path.join(os.path.dirname(pyspark.__file__), "jars", "hadoop-client-api-*.jar")
    )
    if not jars:
        raise FileNotFoundError("hadoop-client-api jar not found in the PySpark install")
    return jars[0]


def compile_classes(out_dir: str) -> dict[str, bytes]:
    """javac every source into ``out_dir``; returns {jar entry: class bytes}."""
    sources = sorted(glob.glob(os.path.join(SRC_DIR, "**", "*.java"), recursive=True))
    subprocess.run(
        ["javac", "--release", "17", "-cp", _hadoop_api_jar(), "-d", out_dir, *sources],
        check=True,
    )
    classes = {}
    for path in sorted(glob.glob(os.path.join(out_dir, "**", "*.class"), recursive=True)):
        with open(path, "rb") as fh:
            classes[os.path.relpath(path, out_dir).replace(os.sep, "/")] = fh.read()
    return classes


def build(jar_path: str = JAR) -> str:
    with tempfile.TemporaryDirectory() as tmp:
        classes = compile_classes(tmp)
    with zipfile.ZipFile(jar_path, "w") as zf:
        zf.writestr(zipfile.ZipInfo("META-INF/MANIFEST.MF", _EPOCH), _MANIFEST)
        for name, data in classes.items():
            zf.writestr(zipfile.ZipInfo(name, _EPOCH), data, zipfile.ZIP_DEFLATED)
    return jar_path


if __name__ == "__main__":
    print(build(*sys.argv[1:2]))
