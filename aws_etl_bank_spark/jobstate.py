"""Job lifecycle + bookmarks (incremental-processing state).

The reference's job bookmarks skip already-processed input, keyed by
``transformation_ctx`` (reference awsglue/job.py:18-48, utils.py:88-155).
Spark-native equivalent: a small JSON state store holding a processed-file
watermark (max mtime + seen paths) per (job, transformation_ctx);
``Job.commit()`` flushes the pending watermarks.  At scale the same
pattern runs against an object-store listing — the state is O(contexts),
never O(data).
"""

from __future__ import annotations

import glob
import json
import os

from aws_etl_bank_spark.durable import atomic_write


class BookmarkStore:
    def __init__(self, state_path: str):
        self.state_path = state_path
        self._state: dict[str, dict] = {}
        self._pending: dict[str, dict] = {}
        if os.path.exists(state_path):
            with open(state_path) as fh:
                self._state = json.load(fh)

    def filter_new_files(self, transformation_ctx: str, pattern: str) -> list[str]:
        """Return input files not yet committed for this ctx, and stage the
        new watermark (committed on Job.commit, like the reference's
        bookmark update at job commit)."""
        seen = set(self._state.get(transformation_ctx, {}).get("files", []))
        all_files = sorted(glob.glob(pattern))
        new = [f for f in all_files if f not in seen]
        self._pending[transformation_ctx] = {
            "files": sorted(seen | set(all_files)),
            "max_mtime": max((os.path.getmtime(f) for f in all_files), default=0.0),
        }
        return new

    def commit(self):
        self._state.update(self._pending)
        self._pending = {}
        os.makedirs(os.path.dirname(self.state_path) or ".", exist_ok=True)
        atomic_write(self.state_path, json.dumps(self._state, indent=1))

    def reset(self, transformation_ctx: str | None = None):
        if transformation_ctx is None:
            self._state = {}
        else:
            self._state.pop(transformation_ctx, None)


#: Reserved option names the reference's getResolvedOptions understands
#: (awsglue/utils.py:79-159).
RESERVED_PARAMS = {"JOB_NAME", "TempDir", "job-bookmark-option", "continuation-option"}

_global_args: dict[str, str] = {}


def getResolvedOptions(args: list[str], options: list[str]) -> dict[str, str]:
    """argv parsing with reserved params + legacy continuation-option
    translation (reference utils.py:79-159)."""
    out: dict[str, str] = {}
    want = set(options) | RESERVED_PARAMS
    i = 0
    while i < len(args):
        a = args[i]
        if a.startswith("--"):
            key = a[2:]
            if "=" in key:
                key, val = key.split("=", 1)
            elif i + 1 < len(args) and not args[i + 1].startswith("--"):
                val = args[i + 1]
                i += 1
            else:
                val = ""
            if key in want or key.replace("-", "_") in want:
                # argparse-style normalization: option keys always land
                # with underscores, like the reference's resolved args.
                out[key.replace("-", "_")] = val
        i += 1
    # legacy continuation-option → job-bookmark-option translation
    cont = out.pop("continuation_option", None)
    if cont and "job_bookmark_option" not in out:
        out["job_bookmark_option"] = {
            "continuation-enabled": "job-bookmark-enable",
            "continuation-readnotprocessed": "job-bookmark-pause",
            "continuation-ignore": "job-bookmark-disable",
        }.get(cont.strip("-"), cont)
    _global_args.update(out)
    return out


class Job:
    """reference awsglue/job.py:37-48"""

    def __init__(self, engine_ctx=None, state_dir: str = ".bookmarks"):
        self._ctx = engine_ctx
        self._initialized = False
        self.name = None
        self.bookmarks: BookmarkStore | None = None
        self._state_dir = state_dir

    def init(self, job_name: str, args: dict | None = None):
        self.name = job_name
        self._initialized = True
        bookmark_opt = (args or {}).get("job_bookmark_option", "job-bookmark-disable")
        if bookmark_opt == "job-bookmark-enable":
            self.bookmarks = BookmarkStore(os.path.join(self._state_dir, f"{job_name}.json"))
        return self

    def isInitialized(self) -> bool:
        return self._initialized

    def commit(self):
        if self.bookmarks is not None:
            self.bookmarks.commit()
