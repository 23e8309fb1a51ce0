"""The reference tables one extraction job tags against, and the one
worker-side slot holding the indexes opened for them.

The driver resolves the job's ``Tables`` once (``resolve``).  Every worker
function (``extract``'s map, pass 2 of ``extract_conversation_scoped``,
the streaming state update) enters it before tagging, and ``gaz_index``,
``tax_index``, ``spatial_index`` and ``postal_codes`` read the slot.
Python workers are reused across jobs, so entering another triple, or the
same one after an artifact was recompiled in place, closes and drops what
the slot held.

Every table is served by one index class, whether it is file-backed or
embedded: a table with no path is its embedded rows compiled in memory
into the same named buffers a compiled artifact's files hold
(``embedded``).
"""

from __future__ import annotations

import functools
import os
from typing import NamedTuple


class Tables(NamedTuple):
    """Compiled artifact directories (``None``: the embedded rows)."""
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

    def _source(self, table: str):
        """The table's artifact directory, else its embedded rows compiled."""
        path = getattr(self.tables, table)
        return embedded(table) if path is None else path

    @functools.cached_property
    def _gaz_files(self):
        from .mmapstore import _MmapFiles
        return self._own(_MmapFiles(self._source("gazetteer")))

    @functools.cached_property
    def gaz_index(self):
        from .mmapstore import MmapGazetteerIndex
        return MmapGazetteerIndex(self._gaz_files)

    @functools.cached_property
    def spatial_index(self):
        from .mmapstore import MmapSpatialIndex
        return MmapSpatialIndex(self._gaz_files)

    @functools.cached_property
    def tax_index(self):
        from .mmapstore import MmapTaxcatIndex, _PhraseFiles
        return MmapTaxcatIndex(self._own(_PhraseFiles(self._source("taxcat"))))

    @functools.cached_property
    def postal_codes(self):
        from .mmapstore import MmapKeyedTable
        return self._own(MmapKeyedTable(self._source("postal")))


_slot = _Slot(Tables())


def enter(tables: Tables) -> None:
    """Worker side: tag against ``tables`` from here on."""
    global _slot
    if (tables, tuple(map(_stamp, tables))) != (_slot.tables, _slot.stamps):
        _slot.close()
        _slot = _Slot(tables)


def gaz_index():
    """The ``MmapGazetteerIndex`` of the gazetteer."""
    return _slot.gaz_index


def spatial_index():
    """The ``MmapSpatialIndex`` (reverse-geocode grid) of the gazetteer."""
    return _slot.spatial_index


def tax_index():
    """The ``MmapTaxcatIndex`` of the taxcat lexicons."""
    return _slot.tax_index


def postal_codes():
    """The ``MmapKeyedTable`` of normalized code -> (cc, adm1, code, name,
    lat, lon) rows."""
    return _slot.postal_codes


@functools.cache
def embedded(table: str) -> dict:
    """``table``'s embedded rows compiled in memory into the artifact's
    named buffers, once per process (module constants cannot go stale).
    Nothing is written to disk, so a zipped package serves them too."""
    from . import data, mmapstore
    from .matcher import NORMALIZATION_VERSION, Place, phrase_key
    if table == "gazetteer":
        rows = data.GAZETTEER_ROWS
        cols = {f: [r[i] for r in rows]
                for i, f in enumerate(Place.__dataclass_fields__)}
        cols["phrase"] = [phrase_key(r[1]) for r in rows]
        return mmapstore.compile_gazetteer(cols, NORMALIZATION_VERSION)
    if table == "taxcat":
        return mmapstore.compile_taxcat(
            [(phrase_key(n), "person", n, None) for n in data.PERSON_NAMES]
            + [(phrase_key(k), "org", c, None)
               for k, c in data.ORG_NAMES.items()]
            + [(phrase_key(n), "nationality", n, cc)
               for n, cc in data.NATIONALITIES.items()],
            NORMALIZATION_VERSION)
    from .postal import POSTAL_ROWS, compile_postal
    return compile_postal(POSTAL_ROWS)
