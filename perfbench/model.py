"""Python model of a session lake: the expected answer of every read the
benchmark issues, computed from the same generated rows (and the same op
sequence) the Spark store receives.

Row layouts are the tuple orders of ``lakehouse_spark.schemas``: SESSION,
MESSAGE and TRACE_EVENT.
"""

from __future__ import annotations

from collections import defaultdict
from datetime import datetime, timezone

# SESSION tuple positions
SID, PARENT, DIR, STATUS, CREATED, PROFILE, UNREAD = 0, 2, 3, 4, 5, 8, 14

SQL = {
    "status_counts": (
        "SELECT status, count(*) AS n FROM sessions GROUP BY status"),
    "events_per_dir": (
        "SELECT s.amplified_dir, count(*) AS n FROM events e "
        "JOIN sessions s USING (session_id) GROUP BY s.amplified_dir"),
    "tokens_per_role": (
        "SELECT role, sum(token_count) AS t FROM messages GROUP BY role"),
}


def _ms(ts: str) -> int:
    dt = datetime.fromisoformat(ts)
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return int(dt.timestamp() * 1000)


class LakeModel:
    def __init__(self, rows: dict[str, list[tuple]]):
        self.sessions = {r[SID]: r for r in rows["sessions"]}
        self.messages: dict[str, list[tuple]] = defaultdict(list)
        for r in rows["messages"]:
            self.messages[r[0]].append(r)
        self.events: dict[str, list[tuple]] = defaultdict(list)
        for r in rows["events"]:
            self.events[r[0]].append(r)

    # -- mutations (mirrors of the ops store_churn applies) ---------------------

    def upsert_session(self, row: tuple) -> None:
        self.sessions[row[SID]] = row

    def mark_read(self, sid: str) -> None:
        r = list(self.sessions[sid])
        r[UNREAD] = False
        self.sessions[sid] = tuple(r)

    def append(self, table: str, rows: list[tuple]) -> None:
        target = self.events if table == "events" else self.messages
        for r in rows:
            target[r[0]].append(r)

    def delete_events(self, sid: str) -> None:
        self.events.pop(sid, None)

    def next_seq(self, table: str, sid: str) -> int:
        rows = (self.events if table == "events" else self.messages).get(sid, [])
        return 1 + max((r[-1] for r in rows), default=0)

    def live_rows(self) -> dict[str, int]:
        return {"sessions": len(self.sessions),
                "messages": sum(map(len, self.messages.values())),
                "events": sum(map(len, self.events.values()))}

    # -- reads -----------------------------------------------------------------

    def list_sessions(self, status=None, profile_name=None, amplified_dir=None,
                      unread_only=False, limit=None) -> list[str]:
        rows = [r for r in self.sessions.values()
                if (status is None or r[STATUS] == status)
                and (profile_name is None or r[PROFILE] == profile_name)
                and (amplified_dir is None or r[DIR] == amplified_dir)
                and (not unread_only or r[UNREAD])]
        rows.sort(key=lambda r: r[SID])
        rows.sort(key=lambda r: r[CREATED], reverse=True)
        return [r[SID] for r in rows[:limit]]

    def events_page(self, sid, lvl=None, prefix=None, after=None, limit=500) -> list[tuple]:
        rows = [(r[1], r[5]) for r in self.events.get(sid, [])
                if (lvl is None or r[2].upper() == lvl.upper())
                and (prefix is None or r[3].startswith(prefix))]
        rows.sort()
        if after is not None:
            rows = [k for k in rows if k > after]
        return rows[:limit]

    def message_tail(self, sid: str, n: int) -> list[int]:
        return sorted(r[6] for r in self.messages.get(sid, []))[-n:]

    def unread_counts(self) -> dict[str, int]:
        out: dict[str, int] = defaultdict(int)
        for r in self.sessions.values():
            if r[UNREAD]:
                out[r[DIR]] += 1
        return dict(out)

    def closure(self, sid: str) -> set[str]:
        kids = defaultdict(list)
        for r in self.sessions.values():
            if r[PARENT] is not None:
                kids[r[PARENT]].append(r[SID])
        out, todo = {sid}, [sid]
        while todo:
            for c in kids[todo.pop()]:
                if c not in out:
                    out.add(c)
                    todo.append(c)
        return out

    def heights(self) -> dict[str, int]:
        """Height of every session's subtree (a leaf has height 0)."""
        out = {sid: 0 for sid in self.sessions}
        for sid in self.sessions:
            h, p = 0, self.sessions[sid][PARENT]
            while p is not None and p in out:
                h += 1
                out[p] = max(out[p], h)
                p = self.sessions[p][PARENT]
        return out

    def trace_metrics(self, sid: str) -> tuple | None:
        """(total_tools, avg_tool_duration, max_tool_duration, longest_tool,
        total_thinking) of the fold in operators.sessionize, for logs made
        of sequential tool:pre/tool:post pairs."""
        evs = sorted(self.events.get(sid, []), key=lambda r: r[5])
        tools, thinking, open_turn, seq = [], 0, False, 0
        for _, ts, _, ev, data, _ in evs:
            if ev == "prompt:submit":
                open_turn = True
            elif ev == "session:end":
                open_turn = False
            elif not open_turn:
                continue
            elif ev == "tool:pre":
                seq += 1
                tools.append([f"tool_{seq}", data[1], _ms(ts), None])
            elif ev == "tool:post":
                for t in tools:
                    if t[3] is None and t[1] == data[1]:
                        t[3] = _ms(ts) - t[2]
                        break
            elif ev == "thinking:delta":
                thinking += 1
        if not tools:
            return None
        done = [t for t in tools if t[3] is not None]
        d, i, n = max((t[3], t[0], t[1]) for t in done)
        return (len(tools), round(sum(t[3] for t in done) / len(done), 4),
                float(d), n, thinking)

    def sql(self, name: str) -> set[tuple]:
        out: dict = defaultdict(int)
        if name == "status_counts":
            for r in self.sessions.values():
                out[r[STATUS]] += 1
        elif name == "events_per_dir":
            for sid, evs in self.events.items():
                if sid in self.sessions and evs:
                    out[self.sessions[sid][DIR]] += len(evs)
        else:
            for msgs in self.messages.values():
                for m in msgs:
                    out[m[2]] += m[5]
        return set(out.items())
