"""``tibia_cron``: the reference's own traffic, one simulated day at a time.

Before each day is timed, :class:`World` lands TibiaData-shaped JSON pages
for it: experience and 8 skill-category highscores pages per world (50
entries a page, skill ranks capped at 1000 — the page cap at etl.dart:501)
and, per 5-minute poll, one file holding each world's online-players
document. A fixed share
of pages is truncated, i.e. malformed. The timed part reads the day through
``json_ingest`` and calls the route set of ``ETLPipelines``; the guarded
routes are called again for dates already done, which must return ``None``.

:class:`Oracle` recomputes every checked table in pure Python from the
generator's own records of what it landed (malformed pages excluded), so it
shares no code with the program.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np

CATEGORIES = ("axe", "club", "distance", "fishing", "fist", "magic", "shielding", "sword")
VOCATIONS = ("None", "Knight", "Elite Knight", "Paladin", "Royal Paladin", "Sorcerer",
             "Master Sorcerer", "Druid", "Elder Druid")
PAGE = 50
SKILL_CAP = 1000
POLLS_PER_DAY = 288
BAD_SHARE = 0.02
DAY0 = dt.date(2024, 3, 1)


def exp_for_level(level: np.ndarray) -> np.ndarray:
    l1 = level.astype(np.int64) - 1
    return (50 * l1**3 - 150 * l1**2 + 400 * l1) // 3


_LEVEL_TABLE = exp_for_level(np.arange(1, 3001))


def level_for_exp(exp: np.ndarray) -> np.ndarray:
    return np.searchsorted(_LEVEL_TABLE, exp, side="right").astype(np.int64)


def day_str(d: int) -> str:
    return (DAY0 + dt.timedelta(days=d)).isoformat()


class World:
    """Seeded player population; :meth:`land` writes one day of pages and
    returns what survived landing (for the oracle) plus landing counts."""

    def __init__(self, seed: int, players: int, worlds: int):
        self.rng = np.random.default_rng(seed)
        rng = self.rng
        self.worlds = [f"World{w:02d}" for w in range(worlds)]
        self.names = [f"Char {seed % 1000:03d}-{i:05d}" for i in range(players)]
        self.world = np.arange(players) % worlds
        self.voc = rng.integers(len(VOCATIONS), size=players)
        level = np.clip(8 + rng.lognormal(3.5, 0.9, size=players).astype(np.int64), 8, 900)
        self.exp = exp_for_level(level) + rng.integers(0, 100, size=players)
        self.skill = rng.integers(10, 100, size=(len(CATEGORIES), players))
        # about 12 % of players online per poll whatever the seed, so the
        # landed volume (and the work) does not drift with the seed
        p = rng.beta(1.2, 8.0, size=players)
        self.p_online = p * (0.12 / p.mean())

    def _advance(self) -> None:
        rng, n = self.rng, len(self.names)
        active = rng.random(n) < 0.7
        self.exp = self.exp + active * (self.exp * rng.uniform(0, 0.03, size=n)).astype(np.int64)
        died = rng.random(n) < 0.02
        self.exp = self.exp - died * (self.exp // 20)
        self.skill = self.skill + (rng.random(self.skill.shape) < 0.3)

    def land(self, root: str, d: int) -> dict:
        if d > 0:
            self._advance()
        rng = self.rng
        level = level_for_exp(self.exp)
        hs_dir, on_dir = os.path.join(root, "highscores"), os.path.join(root, "online")
        os.makedirs(hs_dir, exist_ok=True)
        os.makedirs(on_dir, exist_ok=True)
        stats = {"pages": 0, "bad_pages": 0, "bytes": 0, "entries": 0, "entries_ok": 0}
        exp_rows, rank_rows, poll_rows = [], [], []

        def write(path: str, doc, n_entries: int) -> bool:
            text = json.dumps(doc)
            bad = rng.random() < BAD_SHARE
            if bad:
                text = text[: len(text) // 2]
            with open(path, "w") as fh:
                fh.write(text)
            stats["pages"] += 1
            stats["bad_pages"] += bad
            stats["bytes"] += len(text)
            stats["entries"] += n_entries
            stats["entries_ok"] += 0 if bad else n_entries
            return not bad

        for w, wname in enumerate(self.worlds):
            members = np.flatnonzero(self.world == w)
            for category in ("experience",) + CATEGORIES:
                if category == "experience":
                    key, cap = self.exp[members], len(members)
                else:
                    key, cap = self.skill[CATEGORIES.index(category), members], SKILL_CAP
                # rank order: value desc, then name (names sort like indices)
                order = members[np.lexsort((members, -key))][:cap]
                for p in range(0, len(order), PAGE):
                    entries = []
                    for r, i in enumerate(order[p : p + PAGE], start=p + 1):
                        value = int(self.exp[i]) if category == "experience" else int(
                            self.skill[CATEGORIES.index(category), i])
                        entries.append({"rank": r, "name": self.names[i],
                                        "vocation": VOCATIONS[self.voc[i]], "world": wname,
                                        "level": int(level[i]), "value": value})
                    doc = {"highscores": {"world": wname, "category": category,
                                          "page": p // PAGE + 1, "list": entries}}
                    path = os.path.join(hs_dir, f"{wname}-{category}-{p // PAGE + 1:03d}.json")
                    if write(path, doc, len(entries)):
                        for e in entries:
                            rank_rows.append((category, e["name"], e["rank"], e["value"]))
                            if category == "experience":
                                exp_rows.append((e["name"], e["vocation"], wname, e["level"], e["value"]))
        # one landed file per poll, holding every world's document
        online = self.rng.random((POLLS_PER_DAY, len(self.names))) < self.p_online
        for k in range(POLLS_PER_DAY):
            docs, rows = [], []
            for w, wname in enumerate(self.worlds):
                idx = np.flatnonzero(online[k] & (self.world == w))
                players = [{"name": self.names[i], "level": int(level[i]),
                            "vocation": VOCATIONS[self.voc[i]]} for i in idx]
                docs.append({"world": {"name": wname, "online_players": players}})
                rows.extend((p["name"], p["level"], wname, k) for p in players)
            if write(os.path.join(on_dir, f"poll{k:03d}.json"), docs, len(rows)):
                poll_rows.extend(rows)
        return {"exp": exp_rows, "rankings": rank_rows, "polls": poll_rows, "stats": stats}


def _rank(rows: list[tuple], key) -> list[tuple]:
    return [r + (i,) for i, r in enumerate(sorted(rows, key=key), start=1)]


class Oracle:
    """Pure-Python recomputation of the route tables from landed truth."""

    def __init__(self) -> None:
        self.exp_record: dict[str, list[tuple]] = {}
        self.current_exp: list[tuple] = []
        self.exp_gain: dict[str, list[tuple]] = {}
        self.online_daily: dict[str, list[tuple]] = {}
        self.online_period: dict[str, list[tuple]] = {}
        self.rook: dict[str, list[tuple]] = {}

    def day(self, d: int, landed: dict) -> None:
        date = day_str(d)
        snap = [r for r in landed["exp"] if (r[3] or 0) >= 30]
        ranked = _rank(snap, key=lambda r: (-r[4], r[0]))  # name voc world level value rank
        self.current_exp = ranked
        self.exp_record[date] = ranked
        if d > 0:
            for period, back in (("yesterday", 1), ("7days", 7)):
                self.exp_gain[period] = self._gain(day_str(max(d - back, 0)), date, period)
        # register_online_players: level >= 10, 5 minutes per poll seen,
        # last poll's level/world
        acc: dict[str, list] = {}
        for name, level, world, k in landed["polls"]:
            if (level or 0) < 10:
                continue
            a = acc.setdefault(name, [0, -1, None, None])
            a[0] += 5
            if k > a[1]:
                a[1:] = [k, level, world]
        daily = [(n, t, lv, w, date) for n, (t, _k, lv, w) in acc.items()]
        self.online_daily[date] = _rank(daily, key=lambda r: (-r[1], -r[2], r[0]))
        for period, days in (("7days", 7), ("30days", 30)):
            self.online_period[period] = self._period(d, days, period)
        # rook_master: points = 1000 - (rank - 1) summed over categories
        pts: dict[str, int] = {}
        for _cat, name, rank, _v in landed["rankings"]:
            pts[name] = pts.get(name, 0) + 1000 - (rank - 1)
        base = [(name, value, pts.get(name, 0), date)
                for cat, name, _r, value in landed["rankings"] if cat == "experience"]
        self.rook[date] = [(n, v, p, i, dte) for i, (n, v, p, dte) in enumerate(
            sorted(base, key=lambda r: (-r[2], r[0])), start=1)]

    def _gain(self, date_from: str, date_to: str, period: str) -> list[tuple]:
        prev = {r[0]: r[4] for r in self.exp_record[date_from]}
        rows = [(n, voc, w, lv, v - prev[n]) for n, voc, w, lv, v, _rk in self.exp_record[date_to]
                if n in prev and v - prev[n] > 0]
        return [r + (period, date_to) for r in _rank(rows, key=lambda r: (-r[4], r[0]))]

    def _period(self, d: int, days: int, period: str) -> list[tuple]:
        acc: dict[str, list] = {}
        for k in range(max(0, d - days + 1), d + 1):
            for name, t, lv, w, date, _rk in self.online_daily[day_str(k)]:
                a = acc.setdefault(name, [0, None, None])
                a[0] += t
                a[1:] = [lv, w]  # ascending dates: the last one wins
        rows = [(n, t, lv, w) for n, (t, lv, w) in acc.items()]
        return [r + (period, day_str(d)) for r in _rank(rows, key=lambda r: (-r[1], -r[2], r[0]))]

    def tables(self) -> dict[str, tuple[tuple[str, ...], list[tuple]]]:
        """table -> (column order of the tuples, rows)."""
        cat = lambda d: [r for rows in d.values() for r in rows]  # noqa: E731
        return {
            "current_exp": (("name", "vocation", "world", "level", "value", "rank"),
                            self.current_exp),
            "exp_record": (("name", "vocation", "world", "level", "value", "rank", "date"),
                           [r + (date,) for date, rows in self.exp_record.items() for r in rows]),
            "exp_gain": (("name", "vocation", "world", "level", "gain", "rank", "period", "date"),
                         cat(self.exp_gain)),
            "onlinetime_daily": (("name", "time", "level", "world", "date", "rank"),
                                 cat(self.online_daily)),
            "onlinetime_period": (("name", "time", "level", "world", "rank", "period", "date"),
                                  cat(self.online_period)),
            "rook_master": (("name", "exp_value", "total_points", "rank", "date"), cat(self.rook)),
        }


def canon_rows(rows) -> list[str]:
    """Sorted string form of rows, dates as ISO strings, ints as ints."""
    out = []
    for r in rows:
        cells = []
        for x in r:
            if x is None:
                cells.append("∅")
            elif isinstance(x, (dt.date, dt.datetime)):
                cells.append(x.isoformat())
            elif isinstance(x, (int, np.integer)) and not isinstance(x, bool):
                cells.append(str(int(x)))
            else:
                cells.append(str(x))
        out.append("|".join(cells))
    return sorted(out)
