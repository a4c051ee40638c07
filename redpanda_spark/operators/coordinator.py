"""Consumer-group coordinator — the rebalance state machine.

Reference: `src/v/kafka/server/group.cc` (3617 LoC) / `group.h:90-104`.
States: Empty → PreparingRebalance → CompletingRebalance → Stable → Dead.
Join admits members and picks a protocol by member vote
(`group.cc:497-560`); the leader (first joiner) computes assignments and
distributes them via SyncGroup (`group.cc:562-612`); heartbeats keep
sessions alive; expiry or membership change triggers a new generation.

This is coordination logic, not a data-plane operator: it runs driver-side
over in-memory state, exactly like the reference runs it on the
coordinator shard. Durability mirrors the reference too: group metadata
(generation, protocol, leader, members, assignments) is written as
records of the engine's internal compacted ``__consumer_offsets`` topic
at the same points the reference writes them — rebalance completion,
member departure,
group deletion (`group_manager.cc` checkpoint on state change) — and
recovered by a keep-latest replay on construction
(`group_recovery_consumer.cc`). Heartbeats stay in memory only (the
reference also never logs heartbeats); recovered members get a fresh
session-timeout window. Assignment strategies (range / roundrobin /
sticky) are pure functions, mirroring Kafka's client-side assignors.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from enum import Enum


class GroupState(str, Enum):
    EMPTY = "Empty"
    PREPARING_REBALANCE = "PreparingRebalance"
    COMPLETING_REBALANCE = "CompletingRebalance"
    STABLE = "Stable"
    DEAD = "Dead"


class CoordinatorError(Exception):
    def __init__(self, code: str):
        super().__init__(code)
        self.code = code


@dataclass
class Member:
    member_id: str
    protocols: dict[str, list[str]]  # protocol name -> subscribed topics
    session_timeout_s: float = 30.0
    last_heartbeat: float = field(default_factory=time.monotonic)
    assignment: dict[str, list[int]] = field(default_factory=dict)
    # KIP-345 static membership: a stable application-level identity that
    # survives process restarts (group.h `group_instance_id`); None =
    # dynamic member
    group_instance_id: str | None = None


def range_assign(
    members: dict[str, list[str]],
    topic_partitions: dict[str, int],
    previous: dict[str, dict[str, list[int]]] | None = None,
) -> dict[str, dict[str, list[int]]]:
    """Kafka RangeAssignor: per topic, sort members, split the partition
    space into contiguous ranges (first members get the remainder)."""
    out: dict[str, dict[str, list[int]]] = {m: {} for m in members}
    topics = sorted({t for subs in members.values() for t in subs})
    for topic in topics:
        n_parts = topic_partitions.get(topic, 0)
        subs = sorted(m for m, ts in members.items() if topic in ts)
        if not subs or n_parts == 0:
            continue
        per, extra = divmod(n_parts, len(subs))
        start = 0
        for i, m in enumerate(subs):
            n = per + (1 if i < extra else 0)
            if n:
                out[m][topic] = list(range(start, start + n))
            start += n
    return out


def roundrobin_assign(
    members: dict[str, list[str]],
    topic_partitions: dict[str, int],
    previous: dict[str, dict[str, list[int]]] | None = None,
) -> dict[str, dict[str, list[int]]]:
    """Kafka RoundRobinAssignor: all (topic, partition) pairs sorted, dealt
    one at a time to eligible members in member-sorted order."""
    out: dict[str, dict[str, list[int]]] = {m: {} for m in members}
    pairs = [
        (t, p)
        for t in sorted(topic_partitions)
        for p in range(topic_partitions[t])
    ]
    ring = sorted(members)
    i = 0
    for t, p in pairs:
        for _ in range(len(ring)):
            m = ring[i % len(ring)]
            i += 1
            if t in members[m]:
                out[m].setdefault(t, []).append(p)
                break
    return out


def sticky_assign(
    members: dict[str, list[str]],
    topic_partitions: dict[str, int],
    previous: dict[str, dict[str, list[int]]] | None = None,
) -> dict[str, dict[str, list[int]]]:
    """Kafka StickyAssignor (KIP-54): keep each member's prior partitions
    wherever still valid (member alive, still subscribed, partition still
    exists), hand unowned partitions to the least-loaded eligible member,
    then move partitions from overloaded to underloaded members until
    loads differ by at most one where subscriptions allow. Revocations
    are minimized: ownership changes only to restore validity or balance
    — the property that keeps consumer-side state (caches, in-flight
    work) alive across rebalances."""
    previous = previous or {}
    owner: dict[tuple[str, int], str] = {}
    for m in sorted(previous):
        if m not in members:
            continue
        for t, parts in previous[m].items():
            if t not in members[m]:
                continue
            for p in parts:
                if p < topic_partitions.get(t, 0) and (t, p) not in owner:
                    owner[(t, p)] = m
    load = {m: 0 for m in members}
    for m in owner.values():
        load[m] += 1
    all_pairs = [
        (t, p) for t in sorted(topic_partitions) for p in range(topic_partitions[t])
    ]
    for t, p in all_pairs:
        if (t, p) in owner:
            continue
        elig = [m for m in members if t in members[m]]
        if not elig:
            continue
        m = min(elig, key=lambda x: (load[x], x))
        owner[(t, p)] = m
        load[m] += 1
    # each move strictly lowers load spread, so this terminates
    moved = True
    while moved:
        moved = False
        for t, p in all_pairs:
            m = owner.get((t, p))
            if m is None:
                continue
            elig = [x for x in members if t in members[x]]
            best = min(elig, key=lambda x: (load[x], x))
            if load[m] - load[best] > 1:
                owner[(t, p)] = best
                load[m] -= 1
                load[best] += 1
                moved = True
    out: dict[str, dict[str, list[int]]] = {m: {} for m in members}
    for (t, p), m in sorted(owner.items()):
        out[m].setdefault(t, []).append(p)
    return out


ASSIGNORS = {
    "range": range_assign,
    "roundrobin": roundrobin_assign,
    "sticky": sticky_assign,
    # cooperative-sticky computes the same TARGET; the two-phase revoke/
    # grant protocol around it lives in sync_group/heartbeat (KIP-429)
    "cooperative-sticky": sticky_assign,
}


class GroupCoordinator:
    """One group's FSM. API mirrors the RPC surface:
    join_group / sync_group / heartbeat / leave_group / describe."""

    def __init__(
        self,
        group_id: str,
        topic_partitions: dict[str, int],
        persist=None,
    ):
        self.group_id = group_id
        self.topic_partitions = dict(topic_partitions)
        self.state = GroupState.EMPTY
        self.generation = 0
        self.leader: str | None = None
        self.protocol: str | None = None
        # KIP-429: a cooperative rebalance that revoked partitions owes the
        # group one follow-up rebalance to grant them to the new owners
        self._coop_followup = False
        self.members: dict[str, Member] = {}
        # KIP-345: group_instance_id -> current member_id binding
        self._static: dict[str, str] = {}
        self._next_member = 0
        self._pending_sync: set[str] = set()
        # persistence hook: called with self at the reference's checkpoint
        # points (rebalance completes, member leaves, group empties)
        self._persist = persist

    # -- persistence ------------------------------------------------------

    def snapshot(self) -> dict:
        """Serializable group metadata — the group_metadata.cc record shape."""
        return {
            "group_id": self.group_id,
            "state": self.state.value,
            "generation": self.generation,
            "protocol": self.protocol,
            "leader": self.leader,
            "members": {
                mid: {
                    "protocols": m.protocols,
                    "session_timeout_s": m.session_timeout_s,
                    "assignment": m.assignment,
                    "group_instance_id": m.group_instance_id,
                }
                for mid, m in self.members.items()
            },
            "next_member": self._next_member,
            "coop_followup": self._coop_followup,
        }

    @classmethod
    def restore(
        cls,
        snap: dict,
        topic_partitions: dict[str, int],
        persist=None,
    ) -> "GroupCoordinator":
        """Rebuild a group from its last checkpoint. Members come back with
        a full heartbeat window (the reference likewise re-arms session
        timers on recovery). A group checkpointed mid-rebalance recovers in
        that state and waits for its members to rejoin."""
        g = cls(snap["group_id"], topic_partitions, persist=persist)
        g.state = GroupState(snap.get("state", "Empty"))
        g.generation = snap.get("generation", 0)
        g.protocol = snap.get("protocol")
        g.leader = snap.get("leader")
        g._next_member = snap.get("next_member", len(snap.get("members", {})))
        g._coop_followup = snap.get("coop_followup", False)
        for mid, md in snap.get("members", {}).items():
            m = Member(
                mid,
                {p: list(ts) for p, ts in md.get("protocols", {}).items()},
                md.get("session_timeout_s", 30.0),
            )
            m.assignment = {t: list(ps) for t, ps in md.get("assignment", {}).items()}
            m.group_instance_id = md.get("group_instance_id")
            if m.group_instance_id is not None:
                g._static[m.group_instance_id] = mid
            g.members[mid] = m
        if g.state == GroupState.PREPARING_REBALANCE:
            g._pending_sync = set(g.members)
        return g

    def _checkpoint(self) -> None:
        if self._persist is not None:
            self._persist(self)

    # -- join -------------------------------------------------------------

    def join_group(
        self,
        member_id: str | None,
        protocols: dict[str, list[str]],
        session_timeout_s: float = 30.0,
        group_instance_id: str | None = None,
    ) -> dict:
        """Admit/rejoin a member; moves the group to PreparingRebalance and,
        once all known members have (re)joined, to CompletingRebalance.

        Static membership (KIP-345, `group.cc` update_static_member path):
        a joiner carrying a known ``group_instance_id`` and no member_id is
        a restarted instance — the coordinator swaps a fresh member_id into
        the existing slot, keeps its assignment, and (when the group is
        Stable and the subscription is unchanged) returns the CURRENT
        generation without triggering a rebalance. A join that presents a
        known instance id with a member_id that doesn't match the binding
        is a zombie and is fenced (FENCED_INSTANCE_ID).

        Returns {member_id, generation, leader, protocol, is_leader,
        members (leader only)}.
        """
        if self.state == GroupState.DEAD:
            raise CoordinatorError("COORDINATOR_NOT_AVAILABLE")
        if group_instance_id is not None:
            bound = self._static.get(group_instance_id)
            if bound is not None:
                if member_id and member_id != bound:
                    raise CoordinatorError("FENCED_INSTANCE_ID")
                if not member_id:
                    return self._replace_static_member(
                        group_instance_id, bound, protocols, session_timeout_s
                    )
                # rejoining under its own live member_id: normal path
        # Reject joiners whose protocol list can't intersect the group's
        # (the reference rejects at join, not at completion: group.cc vote).
        others = [
            set(m.protocols)
            for mid, m in self.members.items()
            if mid != member_id
        ]
        if others and not set.intersection(set(protocols), *others):
            raise CoordinatorError("INCONSISTENT_GROUP_PROTOCOL")
        if not member_id:
            member_id = f"{self.group_id}-member-{self._next_member}"
            self._next_member += 1
        known = self.members.get(member_id)
        if (
            known is not None
            and self.state
            in (GroupState.STABLE, GroupState.COMPLETING_REBALANCE)
            and known.protocols == protocols
        ):
            # Kafka's no-op rejoin (group.cc): a known member re-joining
            # Stable OR CompletingRebalance with an unchanged subscription
            # gets the CURRENT generation back. The Completing case is
            # load-bearing: restarting the rebalance there lets two
            # members' alternating join/sync retries bump the generation
            # forever without anyone ever syncing (livelock); Kafka
            # answers with current info so the in-flight sync completes.
            known.last_heartbeat = time.monotonic()
            return self._join_response(member_id)
        m = self.members.get(member_id)
        if m is None:
            m = Member(member_id, protocols, session_timeout_s)
            m.group_instance_id = group_instance_id
            if group_instance_id is not None:
                self._static[group_instance_id] = member_id
            self.members[member_id] = m
            if self.leader is None:
                self.leader = member_id
        else:
            m.protocols = protocols
        m.last_heartbeat = time.monotonic()

        if self.state in (GroupState.EMPTY, GroupState.STABLE, GroupState.COMPLETING_REBALANCE):
            self._start_rebalance()
        self._pending_sync.discard(member_id)

        joined = set(self.members) - self._pending_sync
        if joined == set(self.members):
            self._complete_join()
        return self._join_response(member_id)

    def _replace_static_member(
        self,
        group_instance_id: str,
        old_member_id: str,
        protocols: dict[str, list[str]],
        session_timeout_s: float,
    ) -> dict:
        """Swap a restarted static instance into its existing slot under a
        fresh member_id (Kafka GroupMetadata.replaceStaticMember). The old
        member_id is dead from this point — any request still using it gets
        UNKNOWN_MEMBER_ID (the zombie-fencing KIP-345 provides). Keeps the
        slot's assignment; skips the rebalance iff the group is Stable and
        the instance's subscription didn't change."""
        old = self.members.pop(old_member_id)
        new_id = f"{self.group_id}-member-{self._next_member}"
        self._next_member += 1
        subscription_changed = old.protocols != protocols
        m = Member(new_id, protocols, session_timeout_s)
        m.assignment = old.assignment
        m.group_instance_id = group_instance_id
        self.members[new_id] = m
        self._static[group_instance_id] = new_id
        if self.leader == old_member_id:
            self.leader = new_id
        if old_member_id in self._pending_sync:
            self._pending_sync.discard(old_member_id)
            self._pending_sync.add(new_id)
        if self.state == GroupState.STABLE and not subscription_changed:
            # the reference persists the id swap without bumping the
            # generation — that's the whole point of static membership
            self._checkpoint()
            return self._join_response(new_id)
        self._start_rebalance()
        self._pending_sync.discard(new_id)
        if set(self.members) - self._pending_sync == set(self.members):
            self._complete_join()
        return self._join_response(new_id)

    def _start_rebalance(self) -> None:
        self.state = GroupState.PREPARING_REBALANCE
        # every current member must rejoin before the generation advances
        self._pending_sync = set(self.members)

    def _complete_join(self) -> None:
        self.generation += 1
        self.protocol = self._vote_protocol()
        self.state = GroupState.COMPLETING_REBALANCE
        self._pending_sync = set(self.members)

    def _vote_protocol(self) -> str:
        """Protocol selection by member vote (group.cc:516-560): pick the
        first protocol (in the leader's preference order) supported by all."""
        if not self.members:
            raise CoordinatorError("UNKNOWN_MEMBER_ID")
        candidate_sets = [set(m.protocols) for m in self.members.values()]
        common = set.intersection(*candidate_sets)
        if not common:
            raise CoordinatorError("INCONSISTENT_GROUP_PROTOCOL")
        leader_order = list(self.members[self.leader].protocols)
        for p in leader_order:
            if p in common:
                return p
        return sorted(common)[0]

    def _join_response(self, member_id: str) -> dict:
        resp = {
            "member_id": member_id,
            "generation": self.generation,
            "leader": self.leader,
            "protocol": self.protocol,
            "is_leader": member_id == self.leader,
            "state": self.state.value,
        }
        if member_id == self.leader and self.state == GroupState.COMPLETING_REBALANCE:
            resp["members"] = {
                mid: m.protocols.get(self.protocol, []) for mid, m in self.members.items()
            }
        return resp

    # -- sync -------------------------------------------------------------

    def sync_group(
        self,
        member_id: str,
        generation: int,
        assignments: dict[str, dict[str, list[int]]] | None = None,
    ) -> dict[str, list[int]]:
        """Leader supplies assignments (or None → coordinator runs the voted
        assignor, our convenience extension); followers fetch theirs. Group
        becomes Stable when the leader has synced."""
        self._check_member(member_id, generation)
        if self.state != GroupState.COMPLETING_REBALANCE and self.state != GroupState.STABLE:
            raise CoordinatorError("REBALANCE_IN_PROGRESS")
        if self.state == GroupState.COMPLETING_REBALANCE:
            if member_id == self.leader:
                if assignments is None:
                    subs = {
                        mid: m.protocols.get(self.protocol, [])
                        for mid, m in self.members.items()
                    }
                    # pre-rebalance ownership feeds the sticky assignor;
                    # range/roundrobin ignore it
                    prev = {
                        mid: dict(m.assignment) for mid, m in self.members.items()
                    }
                    assignments = ASSIGNORS[self.protocol or "range"](
                        subs, self.topic_partitions, prev
                    )
                if self.protocol == "cooperative-sticky":
                    assignments = self._cooperative_phase(assignments)
                # every member gets EXACTLY what the leader assigned —
                # members omitted from the map get empty (Kafka
                # GroupCoordinator), never a carried-over stale
                # assignment that would double-own partitions
                for mid, m in self.members.items():
                    m.assignment = assignments.get(mid, {})
                self.state = GroupState.STABLE
                # the reference writes the group-metadata record exactly
                # here: rebalance completed, assignments final
                self._checkpoint()
            else:
                raise CoordinatorError("REBALANCE_IN_PROGRESS")
        return dict(self.members[member_id].assignment)

    # -- liveness ---------------------------------------------------------

    def heartbeat(self, member_id: str, generation: int) -> str:
        self._check_member(member_id, generation)
        self.members[member_id].last_heartbeat = time.monotonic()
        if self.state == GroupState.STABLE and self._coop_followup:
            # phase 2 of a cooperative rebalance: everyone rejoins; the
            # revoked partitions are unowned now, so the sticky target is
            # reached with no partition ever double-owned
            self._coop_followup = False
            self._start_rebalance()
        if self.state in (
            GroupState.PREPARING_REBALANCE,
            GroupState.COMPLETING_REBALANCE,
        ):
            # Kafka answers REBALANCE_IN_PROGRESS in BOTH rebalance
            # states — a follower whose sync raced the leader learns to
            # re-sync instead of idling on NONE with no assignment
            return "REBALANCE_IN_PROGRESS"
        return "NONE"

    def _cooperative_phase(
        self, target: dict[str, dict[str, list[int]]]
    ) -> dict[str, dict[str, list[int]]]:
        """KIP-429 incremental rebalance, phase 1: a partition moving
        between two live members is assigned to NEITHER this generation —
        the old owner revokes it (its new assignment simply lacks it) and
        the new owner receives it in the follow-up rebalance. Partitions
        whose owner is unchanged, or that were unowned, assign
        immediately, so unaffected members never stop consuming."""
        prev_owner: dict[tuple[str, int], str] = {}
        for mid, m in self.members.items():
            for t, parts in m.assignment.items():
                for part in parts:
                    prev_owner[(t, part)] = mid
        out: dict[str, dict[str, list[int]]] = {mid: {} for mid in target}
        withheld = False
        for mid, topics in target.items():
            for t, parts in topics.items():
                for part in parts:
                    po = prev_owner.get((t, part))
                    if po is not None and po != mid and po in self.members:
                        withheld = True  # moving between live members
                        continue
                    out[mid].setdefault(t, []).append(part)
        self._coop_followup = withheld
        return out

    def remove_static_member(self, group_instance_id: str) -> None:
        """Admin removal of a static instance (the
        AdminClient.removeMembersFromConsumerGroup path — KIP-345 static
        members never send LeaveGroup on close, so scale-down goes through
        this explicit call, LeaveGroup v3 with instance ids)."""
        bound = self._static.get(group_instance_id)
        if bound is None:
            raise CoordinatorError("UNKNOWN_MEMBER_ID")
        self.leave_group(bound)

    def leave_group(self, member_id: str) -> None:
        if member_id not in self.members:
            raise CoordinatorError("UNKNOWN_MEMBER_ID")
        gone = self.members[member_id]
        if gone.group_instance_id is not None:
            self._static.pop(gone.group_instance_id, None)
        del self.members[member_id]
        self._pending_sync.discard(member_id)
        if not self.members:
            self.state = GroupState.EMPTY
            self.leader = None
            self.protocol = None
        else:
            if self.leader == member_id:
                self.leader = sorted(self.members)[0]
            self._start_rebalance()
        self._checkpoint()

    def expire_members(self, now: float | None = None) -> list[str]:
        """Session-timeout sweep (the reference's heartbeat timer wheel)."""
        now = time.monotonic() if now is None else now
        dead = [
            mid
            for mid, m in self.members.items()
            if now - m.last_heartbeat > m.session_timeout_s
        ]
        for mid in dead:
            self.leave_group(mid)
        return dead

    def _check_member(self, member_id: str, generation: int) -> None:
        if member_id not in self.members:
            raise CoordinatorError("UNKNOWN_MEMBER_ID")
        if generation != self.generation:
            raise CoordinatorError("ILLEGAL_GENERATION")

    # -- introspection ----------------------------------------------------

    def describe(self) -> dict:
        return {
            "group_id": self.group_id,
            "state": self.state.value,
            "generation": self.generation,
            "protocol": self.protocol,
            "leader": self.leader,
            "members": {
                mid: {
                    "subscriptions": m.protocols.get(self.protocol or "", []),
                    "assignment": m.assignment,
                    "group_instance_id": m.group_instance_id,
                }
                for mid, m in self.members.items()
            },
        }


class GroupManager:
    """All groups on this coordinator (FindCoordinator is trivial single-
    node: every group maps here; multi-node would hash group→partition)."""

    def __init__(self, topic_partitions: dict[str, int], engine=None):
        """``engine`` (a TopicEngine) enables durability: group metadata
        checkpoints are records of the engine's internal compacted
        ``__consumer_offsets`` topic, and every group is replayed from
        its latest snapshot here — the
        group_recovery_consumer.cc startup path. Without an engine the
        manager is memory-only (tests, throwaway sessions)."""
        self.topic_partitions = topic_partitions
        self.engine = engine
        self.groups: dict[str, GroupCoordinator] = {}
        if engine is not None:
            for snap in engine.group_metadata_snapshots():
                self.groups[snap["group_id"]] = GroupCoordinator.restore(
                    snap, self.topic_partitions, persist=self._persist
                )

    def _persist(self, g: GroupCoordinator) -> None:
        if self.engine is not None:
            self.engine.group_metadata_append(g.snapshot())

    def get(self, group_id: str) -> GroupCoordinator:
        if group_id not in self.groups:
            self.groups[group_id] = GroupCoordinator(
                group_id, self.topic_partitions, persist=self._persist
            )
        return self.groups[group_id]

    def refresh_topic_partitions(self, topic_partitions: dict[str, int]) -> list[str]:
        """Metadata refresh (the reference's topic-metadata watch): update
        partition counts and force a rebalance on every non-empty group
        subscribed to a topic whose count changed — members pick up the
        grown partition set on their next heartbeat/rejoin. Returns the
        rebalanced group ids."""
        changed = {
            t: n
            for t, n in topic_partitions.items()
            if self.topic_partitions.get(t) != n
        }
        self.topic_partitions.update(topic_partitions)
        out = []
        for g in self.groups.values():
            g.topic_partitions.update(topic_partitions)
            subscribed = {
                t
                for m in g.members.values()
                for ts in m.protocols.values()
                for t in ts
            }
            if g.members and changed.keys() & subscribed:
                g._start_rebalance()
                out.append(g.group_id)
        return out

    def list_groups(self) -> list[dict]:
        return [
            {"group_id": g.group_id, "state": g.state.value}
            for g in self.groups.values()
        ]

    def describe_groups(self, group_ids: list[str] | None = None) -> list[dict]:
        """DescribeGroups (15): dump group state + membership
        (`handlers/describe_groups.h` → group state dump)."""
        gs = (
            [self.groups[g] for g in group_ids if g in self.groups]
            if group_ids is not None
            else list(self.groups.values())
        )
        return [
            {
                "group_id": g.group_id,
                "state": g.state.value,
                "generation": g.generation,
                "protocol": g.protocol,
                "leader": g.leader,
                "members": [
                    {
                        "member_id": m.member_id,
                        "protocols": {p: sorted(ts) for p, ts in m.protocols.items()},
                        "assignment": {t: sorted(ps) for t, ps in m.assignment.items()},
                    }
                    for m in g.members.values()
                ],
            }
            for g in gs
        ]

    def find_coordinator(self, group_id: str, n_coordinators: int = 1) -> int:
        """FindCoordinator (10): hash(group) → coordinator index. Single
        driver ⇒ always 0 unless a multi-coordinator layout is simulated."""
        import hashlib as _hl

        h = int.from_bytes(_hl.sha256(group_id.encode()).digest()[:4], "big")
        return h % n_coordinators

    def delete_group(self, group_id: str) -> None:
        g = self.groups.get(group_id)
        if g is None:
            raise CoordinatorError("GROUP_ID_NOT_FOUND")
        if g.members:
            raise CoordinatorError("NON_EMPTY_GROUP")
        g.state = GroupState.DEAD
        del self.groups[group_id]
        if self.engine is not None:
            # tombstone: the keep-latest replay drops the group
            self.engine.group_metadata_append(
                {"group_id": group_id, "state": "Dead", "deleted": True}
            )


# --------------------------------------------------------------------------
# Bulk assignment audit — the assignor algebra as a data-plane operator
# --------------------------------------------------------------------------


def bulk_range_assignment(subscriptions, topic_partitions):
    """Kafka RangeAssignor semantics (`range_assign` above; upstream
    RangeAssignor.java) evaluated for MANY groups in one Spark plan:
    given a subscription table (group_id, member_id, topic) and a
    partition-count table (topic, n_partitions), emit one row per
    assigned (group_id, topic, member_id, partition).

    The fleet-audit re-expression of the coordinator's per-group driver
    computation: per (group, topic), members sort and the partition space
    splits into contiguous ranges, first members taking the remainder.
    Scale shape: ONE shuffle (the member-rank window); the tiny
    partition-count table broadcasts; each member row expands to exactly
    its assigned range via sequence(), so the plan is linear in output
    size — no member x partition blowup. Parity with the driver-side
    `range_assign` is pinned by a property test."""
    from pyspark.sql import Window, functions as F

    subs = subscriptions.select("group_id", "member_id", "topic").distinct()
    w = Window.partitionBy("group_id", "topic").orderBy("member_id")
    ranked = subs.withColumn("midx", F.row_number().over(w) - F.lit(1)).withColumn(
        "n_subs",
        F.count(F.lit(1)).over(Window.partitionBy("group_id", "topic")),
    )
    j = ranked.join(F.broadcast(topic_partitions), "topic")
    per = (F.col("n_partitions") / F.col("n_subs")).cast("int")
    extra = F.col("n_partitions") % F.col("n_subs")
    start = F.col("midx") * per + F.least(F.col("midx"), extra)
    cnt = per + F.when(F.col("midx") < extra, F.lit(1)).otherwise(F.lit(0))
    return (
        j.withColumn("start", start)
        .withColumn("cnt", cnt)
        .where(F.col("cnt") > 0)
        .select(
            "group_id",
            "topic",
            "member_id",
            F.explode(
                F.sequence(F.col("start"), F.col("start") + F.col("cnt") - 1)
            ).alias("partition"),
        )
    )


def bulk_roundrobin_assignment(group_topics, group_members, topic_partitions):
    """Kafka RoundRobinAssignor for the uniform-subscription case (every
    member of a group subscribes the group's whole topic set — the
    common deployment), evaluated for many groups in one plan: all
    (topic, partition) pairs of the group sort globally and deal one at
    a time to members in member-sorted order.

    Inputs: group_topics (group_id, topic), group_members (group_id,
    member_id), topic_partitions (topic, n_partitions). The general
    per-member-subscription case has a stateful skip rule and stays
    driver-side in `roundrobin_assign`. Scale shape: pairs expand
    linearly (one row per assigned partition), two window shuffles on
    group_id; parity with `roundrobin_assign` pinned by a property
    test."""
    from pyspark.sql import Window, functions as F

    pairs = (
        group_topics.distinct()
        .join(F.broadcast(topic_partitions), "topic")
        .select(
            "group_id",
            "topic",
            F.explode(
                F.sequence(F.lit(0), F.col("n_partitions") - 1)
            ).alias("partition"),
        )
        .withColumn(
            "deal_idx",
            F.row_number().over(
                Window.partitionBy("group_id").orderBy("topic", "partition")
            )
            - F.lit(1),
        )
    )
    members = group_members.distinct().withColumn(
        "midx",
        F.row_number().over(
            Window.partitionBy("group_id").orderBy("member_id")
        )
        - F.lit(1),
    )
    counts = members.groupBy("group_id").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    # equi-join on the computed member index, NOT a members x pairs
    # expansion filtered after the fact — the plan stays linear in the
    # number of assigned partitions
    dealt = (
        pairs.join(counts, "group_id")
        .withColumn("midx", F.col("deal_idx") % F.col("n_members"))
        .join(members, ["group_id", "midx"])
    )
    return dealt.select("group_id", "topic", "member_id", "partition")
