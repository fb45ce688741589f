"""Oracle-paired query catalog, split into family modules.

``_base`` holds the one registry (``QUERIES``/``ORACLES`` and the
``query`` decorator, which refuses a second registration of a name)
and the table reader ``_t``. Each family module ``c01`` … ``c07``
imports what it uses from ``_base``, from earlier family modules
(shared builders such as ``c01._partsupp_edges``), or from outside the
catalog, and never from a later module. Import
``social_link_prediction_spark.queries``, the public facade, to get
the fully populated registry in registration order.
"""
