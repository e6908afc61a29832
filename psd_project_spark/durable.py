"""Durable metadata: the one publish protocol, and the readers, behind
every manifest, marker and sidecar the package keeps on disk. A reader
sees the previous document or the new one, never a torn one; a file
that exists but does not parse raises :class:`CorruptMetadata`."""

from __future__ import annotations

import contextlib
import json
import os
import threading


class CorruptMetadata(ValueError):
    """A metadata file exists but its content does not parse."""


def publish(path: str, doc) -> None:
    """Atomically replace ``path`` with ``doc``: a ``str`` is written
    verbatim, anything else as ``json.dump(doc, sort_keys=True)``.

    The document goes to a hidden tmp file in the same directory,
    ``.{basename}.{pid}.{thread id}.tmp``, which is then
    ``os.replace``d over ``path``; a crash in between leaves only a
    dot-prefixed file that directory listings skip. The tmp name is
    WRITER-UNIQUE because two writers may publish one path at once
    (two concurrent applies may both evict the same lagging consumer
    and both write its tombstone): a shared tmp name would let one
    writer replace the file out from under the other mid-write — torn
    JSON at the target, and an unhandled ``FileNotFoundError`` on the
    loser's replace. If the write or the replace raises, the tmp file
    is removed and the error propagates."""
    head, base = os.path.split(path)
    tmp = os.path.join(
        head, f".{base}.{os.getpid()}.{threading.get_ident()}.tmp"
    )
    try:
        with open(tmp, "w") as fh:
            if isinstance(doc, str):
                fh.write(doc)
            else:
                json.dump(doc, fh, sort_keys=True)
        os.replace(tmp, path)
    except BaseException:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(tmp)
        raise


def read_json(path: str):
    """The JSON document at ``path``. Raises ``FileNotFoundError`` when
    the file is absent and :class:`CorruptMetadata` when it does not
    parse."""
    with open(path) as fh:
        try:
            return json.load(fh)
        except ValueError as e:
            raise CorruptMetadata(f"corrupt metadata {path}: {e}") from e


def read_int(path: str, default: int | None) -> int | None:
    """The integer marker at ``path``, or ``default`` when the file is
    absent — including when it vanishes between a caller's listing and
    the open (a concurrent eviction unlinks progress markers). Raises
    :class:`CorruptMetadata` when the content is not an integer."""
    try:
        with open(path) as fh:
            text = fh.read()
    except FileNotFoundError:
        return default
    try:
        return int(text)
    except ValueError:
        raise CorruptMetadata(
            f"corrupt metadata {path}: not an integer: {text!r}"
        ) from None
