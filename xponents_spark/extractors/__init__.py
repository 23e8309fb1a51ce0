"""Extractor families: XCoord (coordinates), XTemporal (dates), PoLi
(patterns-of-life).  Importing a module registers its family normalizers
with the FlexPat engine.

``TODAY_YEAR`` / ``TODAY_EPOCH`` are the engine's one pinned TODAY.  The
reference reads wall-clock now; a distributed engine pins it so outputs
are stable across runs and executors.  XCoord's MGRS date-collision
filter and XTemporal's 2-digit-year pivot read the year, and
``pipeline.extract`` defaults its ``today_epoch`` (the caller-relative
TODAY of DateMatch's future flag) to the epoch."""

from calendar import timegm

TODAY_YEAR = 2026
TODAY_EPOCH = timegm((TODAY_YEAR, 1, 1, 0, 0, 0))     # 1_767_225_600
