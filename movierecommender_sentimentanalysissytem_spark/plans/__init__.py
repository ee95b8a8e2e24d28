"""Plan-level tooling: scoped cache management (`caching`), the
physical-plan walker and its strategy-level fingerprints
(`fingerprint`), and the static plan audit (`audit`) that flags shapes
which would not survive a 100× scale-up (cartesian products,
unreviewed nested-loop joins, single-partition exchanges).
"""
