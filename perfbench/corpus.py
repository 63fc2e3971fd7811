"""Seeded Oracle audit XML corpus for the ingest workloads.

Every file is a pure function of (seed, round, index): the same seed gives
the same bytes. A round has a fixed make-up, so every run fails the same
share of files whatever the seed and however many rounds it runs.

Kinds of file:

- ``whole``: a complete ``<Audit>`` document, written by temp file plus
  rename, so the daemon never sees it partial.
- ``tiny``: a complete document of at most 512 bytes once newlines are
  stripped, so the Kinesis payload goes out raw, not gzip-framed.
- ``newline``: a complete document that ends in ``</Audit>\\n``. The
  completeness gate must still pass it (the reference trims all white
  space before ``endsWith``).
- ``twopart``: a complete document whose first part lands by rename and
  whose tail is appended only after the daemon committed the batch that
  listed the partial file.
- ``truncated``: a prefix of a document that never completes; it must
  never be delivered.
- ``nonxml``: a complete document under a ``.txt`` name; it must never be
  delivered.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass

# Kinds whose files the daemon must deliver: one delivery each is one
# attempted operation.
DELIVERABLE = ("whole", "tiny", "newline", "twopart")

_HEADER = (
    '<?xml version="1.0" encoding="UTF-8"?>\n'
    '<Audit xmlns="http://xmlns.oracle.com/oracleas/schema/dbserver_audittrail-11_2.xsd">\n'
    "<Version>11.2</Version>\n"
)
_FOOTER = "</Audit>"
_RECORD = (
    "<AuditRecord><Audit_Type>{atype}</Audit_Type><Session_Id>{sid}</Session_Id>"
    "<StatementId>{stmt}</StatementId><EntryId>{eid}</EntryId>"
    "<Extended_Timestamp>2024-05-{day:02d}T{hh:02d}:{mm:02d}:{ss:02d}.{us:06d}Z</Extended_Timestamp>"
    "<DB_User>APP{uid}</DB_User><OS_User>oracle</OS_User>"
    "<Userhost>dbhost{host}</Userhost><OS_Process>{pid}</OS_Process>"
    "<Instance_Number>0</Instance_Number><Action>{action}</Action>"
    "<Returncode>{rc}</Returncode><Scn>{scn}</Scn>"
    "<Sql_Text>select c{col} from t{tab} where id = {eid}</Sql_Text>"
    "</AuditRecord>\n"
)
_ACTIONS = (3, 7, 100, 101, 102)


@dataclass
class AuditFile:
    """One generated file: its name, its kind and its bytes, and what the
    endpoint must receive for it."""

    name: str
    kind: str
    content: str
    split: int = 0  # bytes in the first part of a ``twopart`` file

    @property
    def deliverable(self) -> bool:
        return self.kind in DELIVERABLE

    @property
    def source_bytes(self) -> int:
        return len(self.content)

    @property
    def payload(self) -> bytes:
        """The record value the reference ships: the file newline-stripped."""
        return self.content.replace("\n", "").encode("utf-8")

    @property
    def md5(self) -> str:
        return hashlib.md5(self.payload).hexdigest()


def _record(bits: int, eid: int, pid: int) -> str:
    # One 96-bit draw per record, sliced into fields: a Python RNG call
    # per field made a 25 MB round take seconds to write.
    return _RECORD.format(
        atype=(1, 4)[bits & 1],
        sid=1 + (bits >> 1) % 999_983,
        stmt=1 + (bits >> 21) % 499,
        eid=eid,
        day=1 + (bits >> 30) % 28,
        hh=(bits >> 35) % 24,
        mm=(bits >> 40) % 60,
        ss=(bits >> 46) % 60,
        us=(bits >> 52) % 1_000_000,
        uid=(bits >> 72) % 40,
        host=(bits >> 78) % 8,
        pid=pid,
        action=_ACTIONS[(bits >> 81) % len(_ACTIONS)],
        rc=(0, 0, 0, 1017, 942)[(bits >> 84) % 5],
        scn=10**7 + (bits >> 20) % (9 * 10**7),
        col=(bits >> 88) % 30,
        tab=(bits >> 60) % 200,
    )


def _document(rng: random.Random, pid: int, n_records: int) -> str:
    body = "".join(_record(rng.getrandbits(96), i + 1, pid) for i in range(n_records))
    return _HEADER + body + _FOOTER


def _cut(rng: random.Random, doc: str) -> int:
    """An offset inside the records, so the prefix cannot end in </Audit>."""
    lo = len(_HEADER) + 1
    hi = len(doc) - len(_FOOTER) - 1
    return rng.randrange(lo, max(lo + 1, hi))


def make_file(rng: random.Random, kind: str, seq: int, n_records: int) -> AuditFile:
    pid = rng.randrange(1000, 99999)
    if kind == "tiny":
        doc = _HEADER + _FOOTER
    else:
        doc = _document(rng, pid, n_records)
    name = f"orcl_ora_{pid}_{20240501000000 + seq}.xml"
    if kind == "newline":
        return AuditFile(name, kind, doc + "\n")
    if kind == "truncated":
        return AuditFile(name, kind, doc[: _cut(rng, doc)])
    if kind == "nonxml":
        return AuditFile(name[:-4] + ".txt", kind, doc)
    if kind == "twopart":
        return AuditFile(name, kind, doc, split=_cut(rng, doc))
    return AuditFile(name, kind, doc)


def make_round(seed: int, rnd: int, mix: dict[str, int], records: tuple[int, int]) -> list[AuditFile]:
    """The files of one round in arrival order: ``mix`` gives the count of
    each kind, ``records`` the range of audit records per document. Order
    and sizes follow the seed; the counts never depend on it."""
    rng = random.Random(f"{seed}:{rnd}")
    kinds = [k for k, n in mix.items() for _ in range(n)]
    rng.shuffle(kinds)
    # One size from each of len(kinds) equal slices of the range: the
    # sizes differ by seed, their sum hardly does, so a round is the
    # same amount of work whatever the seed.
    lo, hi = records
    sizes = [lo + int((hi - lo) * (i + rng.random()) / len(kinds)) for i in range(len(kinds))]
    rng.shuffle(sizes)
    return [make_file(rng, kind, rnd * 1000 + i, n) for i, (kind, n) in enumerate(zip(kinds, sizes))]


def stage(directory: str, f: AuditFile) -> str:
    """Write a file (or the first part of a two-part file) under a temp
    name outside the ``*.xml`` glob. Returns the temp path."""
    tmp = os.path.join(directory, "." + f.name + ".tmp")
    with open(tmp, "w") as out:
        out.write(f.content[: f.split] if f.kind == "twopart" else f.content)
    return tmp


def land(directory: str, f: AuditFile, tmp: str) -> str:
    """Rename a staged file into place. Returns its absolute path."""
    path = os.path.abspath(os.path.join(directory, f.name))
    os.rename(tmp, path)
    return path


def complete_tail(path: str, f: AuditFile) -> bool:
    """Append the tail of a two-part file if the file still exists.
    Returns False when the daemon already deleted it."""
    try:
        fd = os.open(path, os.O_WRONLY | os.O_APPEND)
    except FileNotFoundError:
        return False
    with os.fdopen(fd, "w") as out:
        out.write(f.content[f.split :])
    return True
