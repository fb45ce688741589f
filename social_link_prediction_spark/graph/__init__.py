"""Graph layer (SURVEY.md §2.7): the property graph stays relational —
a vertices DataFrame + an edges DataFrame (GraphFrames model). All
iterative algorithms are driver-looped DataFrame join/agg rounds with
localCheckpoint-based lineage truncation, so they scale with the
cluster rather than a single machine's RAM (the reference pickles a
4.6M-node igraph object whole; ref: infrastructure/repositories/
graph_repo.py:12-63). ``iterate.py`` holds the row-count broadcast
guard, the |V|-tracking partition count and the propagation step
(score frame ⋈ edges, summed by the other endpoint) that the
power-iteration operators share, and ``fixpoint``, the one bounded
loop of the operators that iterate until a round changes nothing;
``build.vertices`` is the vertex set
of an edge list. ``build.simple_edges`` is the one owner of the
undirected simple-edge policy (src < dst, no self-loops, no NULL
endpoints, each pair once); compose it with ``build.undirected`` for
both orientations.
"""
