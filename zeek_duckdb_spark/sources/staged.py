"""The staged-file commit protocol behind every file sink.

Every sink in the package (the zeek batch and stream writers, the WET,
WAT and WARC shard writers, the CDXJ export and ``extract_warc``)
lands its output the same way:

- constructor side (driver): create the directory, reap this sink's
  stale dot-tmps, then clear its published files (``overwrite``) or
  refuse them (``mode='error'``);
- task side (executor): write one dot-prefixed tmp per task attempt,
  created lazily, removed if the task raises, and hand the driver a
  :class:`StagedMessage`;
- driver side: publish every staged tmp by rename at commit, or remove
  them on abort.

Until the driver commits, no final file exists: a job that dies after
some tasks succeeded leaves only dot-tmps, which glob and directory
scans skip.  The driver renames what executors staged, so the scope is
a filesystem both share (local mode, NFS, Lustre).  A sink states only
its bytes, its final names and its commit extras.
"""

from __future__ import annotations

import os
import re
import time

from pyspark.sql.datasource import WriterCommitMessage

__all__ = ["StagedDir", "StagedMessage"]

# a dot-tmp untouched this long is garbage from a SIGKILLed run whose
# abort never ran (an unconditional reap failed a concurrent append
# job at its driver commit).  The window must cover the FULL
# finished-staging-to-driver-commit gap of a concurrent job — a
# completed task's tmp mtime goes stale while stragglers run — so it
# is a day, not an hour; jobs with >24h task skew on one sink
# directory are out of this heuristic's scope (stated).
_STALE_TMP_SECONDS = 24 * 3600

# ".<final name>.tmp" or ".<final name>.tmp-<attempt tag>"
_TMP_NAME = re.compile(r"\.(.+)\.tmp(-.*)?")


class StagedMessage(WriterCommitMessage):
    """Task-to-driver handoff: the staged tmp path (None when the task
    wrote nothing), the final name relative to the sink directory, and
    the sink's commit extras as attributes."""

    def __init__(self, tmp: "str | None", final: "str | None", **extras):
        self.tmp = tmp
        self.final = final
        self.__dict__.update(extras)


def _remove(path: str) -> None:
    try:
        os.remove(path)
    except OSError:
        pass  # never created, or raced with another cleanup


class StagedDir:
    """One sink's output directory under the staged-file protocol.
    Built on the driver, pickled to the tasks with the writer.

    ``who`` prefixes the error messages; ``staging`` names a
    subdirectory that holds the tmps instead of ``path`` itself."""

    def __init__(self, path: "str | None", who: str, staging: str = ""):
        if not path:
            raise ValueError(f"{who}: no output path")
        self.path = path
        self.tmp_dir = os.path.join(path, staging) if staging else path
        os.makedirs(self.tmp_dir, exist_ok=True)

    # --- constructor side ------------------------------------------------

    def claim(self, is_final, overwrite: bool, refusal: str) -> None:
        """Reap stale dot-tmps of this sink's final names (age-gated,
        so a concurrent job's staging survives), then remove every
        published file (``overwrite``) or raise ``ValueError(refusal)``
        if there is one.  ``is_final(name)`` picks the sink's published
        files out of a directory listing."""
        cutoff = time.time() - _STALE_TMP_SECONDS
        names = os.listdir(self.path)
        for f in names:
            m = _TMP_NAME.fullmatch(f)
            if m and is_final(m.group(1)):
                full = os.path.join(self.path, f)
                try:
                    if os.path.getmtime(full) < cutoff:
                        os.remove(full)
                except OSError:
                    pass  # raced with another cleanup: already gone
        existing = [f for f in names if is_final(f)]
        if existing and not overwrite:
            raise ValueError(refusal)
        for f in existing:
            os.remove(os.path.join(self.path, f))

    # --- task side -------------------------------------------------------

    def stage(self, final_name, opener, fill, tag: str = "") -> StagedMessage:
        """Run one task's write.  ``final_name(partition_id)`` names its
        output; ``fill(open_tmp, final)`` writes it, calling
        ``open_tmp()`` for the file handle (the tmp is created on the
        first call and the same handle returned after), and returns the
        commit extras as a dict.  A fill that never opens the tmp
        stages nothing.  On any exception the tmp is closed and
        removed.  ``tag`` goes into the tmp name ahead of the attempt
        id."""
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        attempt = ctx.taskAttemptId() if ctx is not None else 0
        final = final_name(pid)
        # dot-prefixed: invisible to glob scans, directory listings and
        # the final-name scans of claim() until commit renames it
        tmp = os.path.join(self.tmp_dir, f".{final}.tmp-{tag}{attempt}")
        fh = None

        def open_tmp():
            nonlocal fh
            if fh is None:
                fh = opener(tmp)
            return fh

        try:
            try:
                extras = fill(open_tmp, final) or {}
            finally:
                if fh is not None:
                    fh.close()
        except BaseException:
            _remove(tmp)
            raise
        if fh is None:
            return StagedMessage(None, None, **extras)
        return StagedMessage(tmp, final, **extras)

    # --- driver side -----------------------------------------------------

    def publish(self, messages, prefix: str = "") -> None:
        """Commit: rename every staged tmp to ``prefix + final`` in the
        sink directory.  Messages may be None or empty."""
        for m in messages:
            if m is not None and m.tmp is not None:
                os.replace(m.tmp, os.path.join(self.path, prefix + m.final))

    def publish_file(self, name: str, text: str) -> None:
        """Write a driver-built file (an index) by the same staged
        rename, so readers never see it half written."""
        tmp = os.path.join(self.path, f".{name}.tmp")
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write(text)
        os.replace(tmp, os.path.join(self.path, name))

    @staticmethod
    def discard(messages) -> None:
        """Abort: remove every staged tmp."""
        for m in messages:
            if m is not None and m.tmp is not None:
                _remove(m.tmp)
