"""One filesystem layer for the path-based readers: a path or URI
resolves to a ``pyarrow.fs`` FileSystem, opens as a seekable input
file, and lists with the hiding rules of Spark's file sources.

Bare and ``file:`` paths use ``LocalFileSystem``; any other
``scheme://`` URI goes through ``FileSystem.from_uri`` (``s3://``,
``gs://``, ``hdfs://`` where libhdfs loads, ``mock://``).  A scheme
pyarrow cannot serve raises ``ValueError`` naming it, on the caller's
side, before any job runs.
"""

from __future__ import annotations

import fnmatch
import posixpath
import re

__all__ = ["open_path", "list_paths"]

_URI = re.compile(r"^([A-Za-z][A-Za-z0-9+.\-]*)://")
_GLOB_CHARS = "*?["


def _has_glob(s: str) -> bool:
    return any(c in s for c in _GLOB_CHARS)


def _filesystem(path: str):
    """Path or URI -> ``(filesystem, fs path, prefix)``, where
    ``prefix + fs path`` spells a file the way :func:`open_path` takes
    it back: bare for local and ``file:`` paths, scheme and authority
    for a URI.  Glob metacharacters stay out of the URI parse (``?``
    would start a query): only the literal directory part is parsed."""
    from pyarrow import fs as pafs

    m = _URI.match(path)
    if m is None or m.group(1).lower() == "file":
        for pre in ("file://", "file:"):
            if path.startswith(pre):
                path = path[len(pre):]
                break
        return pafs.LocalFileSystem(), path, ""
    cut = min([path.find(c) for c in _GLOB_CHARS if c in path] or [len(path)])
    head = path if cut == len(path) else path[: path.rfind("/", 0, cut)]
    try:
        fs, fs_head = pafs.FileSystem.from_uri(head)
    except (ValueError, OSError) as exc:
        scheme = m.group(1)
        need = (
            " (hdfs:// needs libhdfs, loaded by pyarrow.fs."
            "HadoopFileSystem)" if scheme.lower() in ("hdfs", "viewfs")
            else ""
        )
        raise ValueError(
            f"pyarrow.fs cannot open {scheme}:// paths{need}: "
            f"{str(exc).splitlines()[0]} — "
            "use a URI pyarrow.fs resolves (s3://, gs://, file://), "
            "or pass opener=/lister="
        ) from None
    prefix = (
        head[: len(head) - len(fs_head)] if head.endswith(fs_head)
        else f"{m.group(1)}://"
    )
    return fs, fs_head + path[len(head):], prefix


def open_path(path: str):
    """Open a path or URI as a seekable binary input file (``read``,
    ``seek``, ``tell``, ``close``, context manager)."""
    fs, p, _ = _filesystem(path)
    return fs.open_input_file(p)


def list_paths(fs, path: str) -> list:
    """Sorted files a reader loads for ``path`` on ``fs``:

    - a directory lists its regular files, skipping ``.``/``_`` names
      (staged tmps and job markers such as ``_committed_*``);
    - a path with no glob metacharacter is honoured as given, hidden
      or not, when it is a file;
    - anything else is a glob with ``glob.glob`` semantics — ``*``
      does not cross ``/`` and skips dot names unless the pattern
      component starts with ``.`` — and matches named ``.``/``_`` are
      dropped."""
    from pyarrow import fs as pafs

    File, Dir = pafs.FileType.File, pafs.FileType.Directory
    kind = fs.get_file_info(path).type
    if kind == Dir:
        return sorted(
            posixpath.join(path, i.base_name)
            for i in fs.get_file_info(pafs.FileSelector(path))
            if i.type == File and not i.base_name.startswith((".", "_"))
        )
    if not _has_glob(path):
        return [path] if kind == File else []
    parts = path.split("/")
    first = next(k for k, c in enumerate(parts) if _has_glob(c))
    dirs = ["/".join(parts[:first]) or ("/" if path.startswith("/") else "")]
    for k, comp in enumerate(parts[first:], first):
        want = File if k == len(parts) - 1 else Dir
        nxt = []
        for d in dirs:
            sel = pafs.FileSelector(d or ".", allow_not_found=True)
            for i in fs.get_file_info(sel):
                name = i.base_name
                if (
                    i.type == want
                    and fnmatch.fnmatchcase(name, comp)
                    and (comp.startswith(".") or not name.startswith("."))
                ):
                    nxt.append(posixpath.join(d, name))
        dirs = nxt
    return sorted(
        p for p in dirs if not posixpath.basename(p).startswith((".", "_"))
    )
