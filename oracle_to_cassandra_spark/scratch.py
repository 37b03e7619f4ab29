"""Per-session scratch-space management for queries that materialize
state (bucketed tables, DDL round-trips, Derby databases, sink
round-trips).

Why per-session: with one shared ``<checkout>/.scratch`` tree, global
catalog names (``orders_bkt``, ``ddl_orders_roundtrip``, one Derby db
dir) and DROP+rmtree pre-wipes, two concurrent sessions (pytest
alongside bench, or a parallel driver) would wipe each other's tables
mid-query — and Derby embedded additionally allows only
ONE booting JVM per database directory. Every path and catalog name now
carries a session token (pid + startup nonce), so concurrent sessions
never collide; each session's subtree is removed at interpreter exit.

At 100 TB the same discipline applies unchanged: replace the base dir
with a job-scoped object-store prefix (``SPARK_GRAFT_SCRATCH``) and the
token with the orchestration run-id.
"""

from __future__ import annotations

import atexit
import os
import shutil
import uuid

#: ``.scratch/`` (git-ignored) in the checkout this package was imported
#: from, so two checkouts never share sink tables; override point for
#: tests / external orchestration
BASE = os.environ.get(
    "SPARK_GRAFT_SCRATCH",
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
    ),
)

#: unique per interpreter: pid alone is not enough (pids recycle, and a
#: driver may re-exec in-place), so add a startup nonce. Stable for the
#: whole session so repeated calls reuse the same locations.
TOKEN = f"s{os.getpid()}_{uuid.uuid4().hex[:6]}"

_SESSION_DIR = os.path.join(BASE, TOKEN)


def session_path(*parts: str) -> str:
    """Absolute scratch path private to this interpreter session; the
    directory tree above the leaf is created."""
    path = os.path.join(_SESSION_DIR, *parts)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


def session_table(base: str) -> str:
    """Catalog table name suffixed with the session token — globally
    unique across concurrent SparkSessions sharing a metastore."""
    return f"{base}_{TOKEN}"


@atexit.register
def _cleanup() -> None:
    shutil.rmtree(_SESSION_DIR, ignore_errors=True)
