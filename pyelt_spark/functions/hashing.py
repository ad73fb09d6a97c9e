"""Vectorized hash-key and hashdiff expressions.

Reimplements the semantics of the reference's change-detection hashing —
``MD5(coalesce(f1::text,'') || coalesce(f2::text,'') || ...)`` computed at
the source (reference: pyelt/sources/databases.py:115-147) and the
composite business keys ``f1 || '.' || f2`` (reference:
pyelt/mappings/sor_to_dv_mappings.py:62-65) — as pure JVM-side column
expressions: SHA-256 per the north rule, ``concat_ws`` with a unit
separator, ``coalesce(cast(string),'')`` null canonicalization. No Python
runs per row; everything stays inside whole-stage codegen.

Schema evolution: hashdiffs are computed under a *versioned recipe* (the
ordered column list). When a new column is added, rows already stored keep
their old recipe version; the merge operator recomputes the batch-side
hashdiff under the state row's recipe when comparing, so adding a column
does NOT spuriously re-version every row (SURVEY §7.6; reference additive
contract at pyelt/process/ddl.py:122-144).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Field separator inside hash payloads. A control char that cannot occur in
#: normal text, so ("ab","c") never collides with ("a","bc").
SEP = "\x1f"
#: Canonical encoding of NULL inside hash payloads (distinct from '').
NULL_TOKEN = "\x00"


def _canon(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(c.cast("string"), F.lit(NULL_TOKEN))


def business_key(*cols: str | Column, sep: str = ".") -> Column:
    """Composite business key: ``f1 || '.' || f2 || ...`` (text form)."""
    return F.concat_ws(sep, *[_canon(c) for c in cols])


def hash_key(*cols: str | Column) -> Column:
    """Deterministic SHA-256 surrogate key over business-key parts.

    Replaces the reference's ``_id SERIAL`` (database.py:393-395) so that
    replay is bit-for-bit reproducible and hub/sat/link merges never need a
    sequential FK-writeback round trip.
    """
    return F.sha2(F.concat_ws(SEP, *[_canon(c) for c in cols]), 256)


def hashdiff(cols: list[str | Column]) -> Column:
    """SHA-256 row digest over payload columns (change detection)."""
    return F.sha2(F.concat_ws(SEP, *[_canon(c) for c in cols]), 256)


@dataclass
class HashRecipe:
    """Versioned hashdiff recipe: ordered payload column lists per version.

    Version 1 is the initial column list; each additive schema evolution
    appends a new version with the extended list. ``hashdiff_for(v)``
    produces the digest under version ``v``'s column list, letting the
    merge compare a batch row against a state row stored under an older
    recipe without re-versioning it.
    """

    versions: dict[int, list[str]] = field(default_factory=dict)

    @classmethod
    def initial(cls, cols: list[str]) -> "HashRecipe":
        return cls(versions={1: list(cols)})

    @property
    def current_version(self) -> int:
        return max(self.versions)

    @property
    def current_cols(self) -> list[str]:
        return self.versions[self.current_version]

    def evolve(self, new_cols: list[str]) -> int:
        """Register additive columns; returns the new recipe version.

        Columns are only ever added, never dropped or retyped — the
        reference's contract (ddl.py:122-144, 'kolommen worden uitsluitend
        toegevoegd, nooit verwijderd').
        """
        added = [c for c in new_cols if c not in self.current_cols]
        if not added:
            return self.current_version
        v = self.current_version + 1
        self.versions[v] = self.current_cols + added
        return v

    def hashdiff_for(self, version: int) -> Column:
        return hashdiff(list(self.versions[version]))

    def to_json(self) -> dict:
        return {str(k): v for k, v in self.versions.items()}

    @classmethod
    def from_json(cls, d: dict) -> "HashRecipe":
        return cls(versions={int(k): list(v) for k, v in d.items()})
