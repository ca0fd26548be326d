"""One way to reach an index's files wherever it lives: a path resolves
to a ``(pyarrow.fs.FileSystem, path)`` pair that lists and opens them."""

from __future__ import annotations

import os
from urllib.parse import urlparse

import pyarrow.fs as pafs


def resolve(path: str) -> tuple[pafs.FileSystem, str]:
    """A URI (``file://``, Hadoop's ``file:/``, any scheme the installed
    pyarrow supports) goes through ``FileSystem.from_uri``, which raises
    naming an unrecognized scheme; a path with no scheme is local."""
    if urlparse(path).scheme:
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), os.path.abspath(path)


def exists(path: str) -> bool:
    """Whether a file or directory is at ``path``."""
    fs, p = resolve(path)
    return fs.get_file_info(p).type != pafs.FileType.NotFound


def parquet_parts(path: str) -> tuple[pafs.FileSystem, list[str]]:
    """The file system of table directory ``path`` and its parquet parts,
    sorted, skipping names that start with ``_`` or ``.`` (a writer's
    ``_SUCCESS`` and ``.crc`` files). A missing directory raises
    ``FileNotFoundError``."""
    fs, root = resolve(path)
    return fs, sorted(
        i.path
        for i in fs.get_file_info(pafs.FileSelector(root))
        if i.base_name.endswith(".parquet") and not i.base_name.startswith(("_", "."))
    )
