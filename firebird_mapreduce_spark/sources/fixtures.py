"""On-disk fixtures derived from the corpus (media assets, stream splits).

Every ``.fixtures/<kind>_<tag>`` directory is built through
:func:`materialise`, which owns the path, the marker format and the
rebuild rule:

- the signature covers everything the bytes depend on: the caller's
  spec (asset list or splits), ``corpus_tag`` of each source table the
  writer reads, and ``inspect.getsource`` of each function or module
  that shapes the bytes;
- fast path: the marker holds that signature and the directory's
  ``suffix`` files are exactly the expected set — nothing is read or
  written;
- slow path: delete the marker, prune ``suffix`` files outside the
  expected set, let the writer write every file, write the marker last.
  A writer that fails part-way leaves no marker, so the next call
  rebuilds instead of serving a half-written directory.

Fixtures live under the repo, never in the read-only test data.
"""

from __future__ import annotations

import contextlib
import hashlib
import inspect
import json
import os
from collections.abc import Callable, Iterable

ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".fixtures",
)
_MARKER = "_marker.json"


def fixture_path(kind: str, *key) -> str:
    """``ROOT/<kind>_<tag>``, the tag an md5 prefix of ``kind`` and ``key``."""
    tag = hashlib.md5("|".join(map(str, (kind, *key))).encode()).hexdigest()[:8]
    return os.path.join(ROOT, f"{kind}_{tag}")


def signature(spec, code: Iterable = (), corpus: tuple[str, ...] = ()) -> str:
    """md5 over ``repr(spec)``, the source of every object in ``code`` and,
    when ``corpus`` is ``(sf_dir, table, ...)``, those tables' ``corpus_tag``."""
    h = hashlib.md5(repr(spec).encode())
    for obj in code:
        h.update(inspect.getsource(obj).encode())
    if corpus:
        from ..operators.relational import corpus_tag

        h.update(corpus_tag(*corpus).encode())
    return h.hexdigest()


def materialise(
    kind: str,
    key: tuple,
    suffix: str,
    files: Iterable[str],
    write: Callable[[str], None],
    *,
    spec,
    code: Iterable = (),
    corpus: tuple[str, ...] = (),
) -> str:
    """Return ``fixture_path(kind, *key)`` holding exactly ``files`` (every
    name ends in ``suffix``), calling ``write(out_dir)`` to write them all
    unless the marker's signature and the file set already match."""
    out_dir = fixture_path(kind, *key)
    expected = set(files)
    sig = signature(spec, code, corpus)
    marker = os.path.join(out_dir, _MARKER)
    os.makedirs(out_dir, exist_ok=True)

    def present() -> set[str]:
        return {f for f in os.listdir(out_dir) if f.endswith(suffix)}

    try:
        with open(marker) as fh:
            if json.load(fh).get("sig") == sig and present() == expected:
                return out_dir
    except (FileNotFoundError, ValueError):
        pass
    with contextlib.suppress(FileNotFoundError):
        os.remove(marker)
    for name in present() - expected:
        os.remove(os.path.join(out_dir, name))
    write(out_dir)
    if present() != expected:
        raise RuntimeError(f"{out_dir}: the writer left other {suffix} files than expected")
    with open(marker, "w") as fh:
        json.dump({"sig": sig}, fh)
    return out_dir
