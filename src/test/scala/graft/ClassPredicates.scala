package graft

/** Shared noise-class membership predicates for tests — ONE definition of
  * the class-M (married-surname) slice, mirroring
  * LinkageQueries.flaggedPersons' isM, so LinkageSpec cannot drift from it.
  */
object ClassPredicates {

  def hhOf(k: Long): Long = if (k % 200 < 20) k - k % 200 else k - k % 4

  def movedHh(k: Long): Boolean = {
    val hh = hhOf(k); hh % 13 == 0 && hh % 200 != 0
  }

  /** Class-M membership (married surname; mirror of flaggedPersons' isM). */
  def isMRec(k: Long): Boolean =
    k % 21 == 0 && k % 29 != 0 && k % 19 != 0 && !movedHh(k) &&
      k % 23 != 0 && k % 37 != 0 && k % 41 != 0 && k % 47 != 0 &&
      k % 31 != 0 && k % 43 != 0 && k % 59 != 0 && k % 13 != 0 && k % 17 != 0
}
