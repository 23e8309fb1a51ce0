"""The reference tables one extraction job tags against, and the one
worker-side slot holding the indexes opened for them.

The driver resolves the job's ``Tables`` once (``resolve``).  Every worker
function (``extract``'s map, pass 2 of ``extract_conversation_scoped``,
the streaming state update) enters it before tagging, and ``gaz_index``,
``tax_index``, ``spatial_index`` and ``postal_codes`` read the slot.
Python workers are reused across jobs, so entering another triple, or the
same one after an artifact was recompiled in place, closes and drops what
the slot held.  The embedded indexes are built once per process from
module constants, which cannot go stale.
"""

from __future__ import annotations

import functools
import os
from typing import NamedTuple


class Tables(NamedTuple):
    """Compiled artifact directories (``None``: the embedded table)."""
    gazetteer: str | None = None
    taxcat: str | None = None
    postal: str | None = None


def resolve(gazetteer: str | None = None, taxcat: str | None = None,
            postal: str | None = None) -> Tables:
    """Driver side: each path as given, else its ``XPONENTS_*_PARQUET``
    env var, so no worker reads its own environment."""
    env = os.environ.get
    return Tables(gazetteer or env("XPONENTS_GAZETTEER_PARQUET"),
                  taxcat or env("XPONENTS_TAXCAT_PARQUET"),
                  postal or env("XPONENTS_POSTAL_PARQUET"))


def _stamp(path: str | None) -> tuple | None:
    """The artifact's meta.json (inode, mtime_ns); every compile writes
    that file last."""
    if path is None:
        return None
    try:
        st = os.stat(os.path.join(path, "meta.json"))
    except OSError:             # no artifact there: its open refuses it
        return None
    return st.st_ino, st.st_mtime_ns


class _Slot:
    """The indexes of one triple, each opened on first use."""

    def __init__(self, tables: Tables):
        self.tables, self.stamps = tables, tuple(map(_stamp, tables))
        self.opened: list = []          # the files close() releases

    def _own(self, files):
        self.opened.append(files)
        return files

    def close(self) -> None:
        for f in self.opened:
            f.close()

    @functools.cached_property
    def _gaz_files(self):
        from .mmapstore import _MmapFiles
        return self._own(_MmapFiles(self.tables.gazetteer))

    @functools.cached_property
    def gaz_index(self):
        if self.tables.gazetteer is None:
            return _embedded_gaz_index()
        from .mmapstore import MmapGazetteerIndex
        return MmapGazetteerIndex(self._gaz_files)

    @functools.cached_property
    def spatial_index(self):
        if self.tables.gazetteer is None:
            return _embedded_spatial_index()
        from .mmapstore import MmapSpatialIndex
        return MmapSpatialIndex(self._gaz_files)

    @functools.cached_property
    def tax_index(self):
        if self.tables.taxcat is None:
            return _embedded_tax_index()
        from .mmapstore import MmapTaxcatIndex, _PhraseFiles
        return MmapTaxcatIndex(self._own(_PhraseFiles(self.tables.taxcat)))

    @functools.cached_property
    def postal_codes(self):
        if self.tables.postal is None:
            return _embedded_postal_codes()
        from .mmapstore import MmapKeyedTable
        return self._own(MmapKeyedTable(self.tables.postal))


_slot = _Slot(Tables())


def enter(tables: Tables) -> None:
    """Worker side: tag against ``tables`` from here on."""
    global _slot
    if (tables, tuple(map(_stamp, tables))) != (_slot.tables, _slot.stamps):
        _slot.close()
        _slot = _Slot(tables)


def gaz_index():
    """``PhraseIndex`` over the embedded rows, or ``MmapGazetteerIndex``."""
    return _slot.gaz_index


def spatial_index():
    """``SpatialIndex`` over the embedded rows, or ``MmapSpatialIndex``."""
    return _slot.spatial_index


def tax_index():
    """``PhraseIndex`` over the embedded lexicons, or ``MmapTaxcatIndex``."""
    return _slot.tax_index


def postal_codes():
    """Normalized code -> (cc, adm1, code, name, lat, lon) rows, as the
    embedded dict or an ``MmapKeyedTable``: both answer ``.get``."""
    return _slot.postal_codes


@functools.cache
def _embedded_gaz_index():
    from . import data
    from .matcher import CANDIDATE_CAP, PhraseIndex, Place, _cap_places
    idx = PhraseIndex([(r[1], Place(*r)) for r in data.GAZETTEER_ROWS])
    # O6 candidate cap on the in-memory path (see CANDIDATE_CAP)
    for key, places in idx.index.items():
        if len(places) > CANDIDATE_CAP:
            idx.index[key] = _cap_places(places)
    return idx


@functools.cache
def _embedded_spatial_index():
    from . import data
    from .matcher import Place
    from .spatial import SpatialIndex
    return SpatialIndex([Place(*r) for r in data.GAZETTEER_ROWS])


@functools.cache
def _embedded_tax_index():
    from . import data
    from .matcher import PhraseIndex
    return PhraseIndex(
        [(n, ("person", n, None)) for n in data.PERSON_NAMES]
        + [(k, ("org", c, None)) for k, c in data.ORG_NAMES.items()]
        + [(n, ("nationality", n, cc))
           for n, cc in data.NATIONALITIES.items()])


@functools.cache
def _embedded_postal_codes():
    from .postal import POSTAL_ROWS, _build_code_map
    return _build_code_map(POSTAL_ROWS)
