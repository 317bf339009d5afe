"""Host-sized benchmark of the CAP pipeline and the iterative operators."""
