"""JVM-side plug-ins shipped with the package as a prebuilt jar.

``sparkgraft.fs`` gives the ``file:`` scheme a Hadoop local filesystem
that spawns no processes (see ``src/sparkgraft/fs``); ``session.get_spark``
puts the jar on the driver classpath and registers it. ``build.py``
rebuilds the jar from source.
"""

from __future__ import annotations

import os

_HERE = os.path.dirname(os.path.abspath(__file__))
SRC_DIR = os.path.join(_HERE, "src")
JAR = os.path.join(_HERE, "spark-graft-localfs.jar")
FS_IMPL = "sparkgraft.fs.NioLocalFileSystem"
ABSTRACT_FS_IMPL = "sparkgraft.fs.NioLocalFs"
